"""Geodesy kernel: EPSG:3005 (BC Albers) forward projection, line length,
speed-over-ground — the computational core of the reference.

Reference parity (SURVEY.md §2.7):
  - O16 ST_MakePoint / O17 ST_MakeLine / O18 ST_SetSRID  (sql_to_line.py:211)
      → a 2-point LineString is fully determined by its endpoints; here a
      geometry is a struct<srid,x1,y1,x2,y2> (SURVEY.md §1.4).
  - O19 ST_Transform 4326→3005 (sql_to_line.py:214-215)
      → closed-form ellipsoidal Albers Equal-Area Conic forward projection
      (Snyder 1987, "Map Projections — A Working Manual", eqs 3-12 and
      14-19..14-21) as native SQL expression math: whole-stage codegen,
      no UDF, no Python in the hot path.
  - O20 ST_Length (sql_to_line.py:218-219)
      → projected CRS is planar and lines have 2 points → Euclidean length.
  - O21 SOG knots (sql_to_line.py:222-223): (len_m / duration) * 1.94384,
      null-guarded for duration=0 (reference quirk Q4: v2 divides by zero,
      v1 pre-deletes those rows; our operator is total).

Cross-engine reproducibility: results must hash-match a DuckDB oracle.
JVM `Math.sin` and C libm differ by a few ulps (measured: 1479/60000
rows differed bitwise on the test range), so the kernel avoids libm
transcendentals entirely. sin/cos/atanh are evaluated as fixed-degree
Taylor polynomials in Horner form whose coefficients are embedded as
decimal literals; the remaining ops (+ - * / sqrt) are IEEE-754
exact-rounded and therefore bit-identical in Spark, DuckDB, and Python.
Polynomial domains/accuracy: |x| ≤ 1.1 rad for sin (degree 19) and cos
(degree 18) with relative error < 3e-18; |z| ≤ 0.09 for atanh (deg 15).
That covers latitudes to ±63° and longitudes within ±77° of the central
meridian (|theta| = n·|Δlon| ≤ 1.1) — far beyond the CRS's area of
validity (EPSG:3005 is specified for British Columbia).

EPSG:3005 parameters (public EPSG registry): GRS80 (a=6378137,
1/f=298.257222101); standard parallels 50°N, 58.5°N; false-origin lat
45°N, lon 126°W; FE=1,000,000 m, FN=0. NAD83≈WGS84 identity datum
assumption (standard for this CRS; SURVEY.md §7 "what's hard" #1).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- ellipsoid + projection constants (computed once, embedded as literals) ---
A = 6378137.0
INV_F = 298.257222101
_F = 1.0 / INV_F
E2 = 2.0 * _F - _F * _F
E = math.sqrt(E2)
ONE_MINUS_E2 = 1.0 - E2
INV_E = 1.0 / E

LAT0, LAT1, LAT2 = 45.0, 50.0, 58.5
LON0 = -126.0
FE, FN = 1000000.0, 0.0
DEG2RAD = math.pi / 180.0

KNOTS_PER_MPS = 1.94384  # sql_to_line.py:223 (comment :222)

# Taylor coefficients as exact double literals. Degrees sized for the
# geodetic domain (|phi| ≤ 1.09 rad for lat ≤ 62.5°, |theta| ≤ n·π/2,
# |z| ≤ e): truncation error < 3e-16 relative — below the double ulp of
# the downstream projection math, and identical on both engines anyway.
SIN_COEFFS = [(-1.0) ** k / math.factorial(2 * k + 1) for k in range(10)]   # x·P(x²), deg 19
COS_COEFFS = [(-1.0) ** k / math.factorial(2 * k) for k in range(10)]       # Q(x²), deg 18
ATANH_COEFFS = [1.0 / (2 * k + 1) for k in range(8)]                         # z·R(z²), deg 15


# --- deterministic scalar kernels: SQL text + bit-identical Python mirror ---

def dlit(x: float) -> str:
    """Render a float so BOTH Spark and DuckDB parse it as DOUBLE.

    Plain decimal literals (`0.5`) are parsed as DECIMAL by both engines
    (with engine-specific precision rules → divergent arithmetic);
    e-notation literals are DOUBLE in both.
    """
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def _horner_sql(u: str, coeffs: list[float]) -> str:
    expr = dlit(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        expr = f"({dlit(c)} + {u} * {expr})"
    return expr


def _horner_py(u: float, coeffs: list[float]) -> float:
    acc = coeffs[-1]
    for c in reversed(coeffs[:-1]):
        acc = c + u * acc
    return acc


def dsin_sql(x: str) -> str:
    """Deterministic sin for |x| ≤ π/2 (+margin). `x` must be a simple ref."""
    return f"({x} * {_horner_sql(f'({x} * {x})', SIN_COEFFS)})"


def dcos_sql(x: str) -> str:
    return f"({_horner_sql(f'({x} * {x})', COS_COEFFS)})"


def datanh_sql(z: str) -> str:
    """Deterministic atanh for |z| ≤ 0.09. `z` must be a simple ref."""
    return f"({z} * {_horner_sql(f'({z} * {z})', ATANH_COEFFS)})"


def dsin_py(x: float) -> float:
    return x * _horner_py(x * x, SIN_COEFFS)


def dcos_py(x: float) -> float:
    return _horner_py(x * x, COS_COEFFS)


def datanh_py(z: float) -> float:
    return z * _horner_py(z * z, ATANH_COEFFS)


# --- projection constants (Snyder 14-12..14-15), via the same kernels ---

def _m(phi: float) -> float:
    # Snyder eq 14-15: m = cos(phi)/sqrt(1 - e² sin²(phi))
    return dcos_py(phi) / math.sqrt(1.0 - E2 * dsin_py(phi) ** 2)


def _q(s: float) -> float:
    # Snyder eq 3-12, with (1/2e)·ln((1-es)/(1+es)) = -(1/e)·atanh(e·s)
    return ONE_MINUS_E2 * (s / (1.0 - E2 * s * s) + INV_E * datanh_py(E * s))


_PHI0, _PHI1, _PHI2 = (DEG2RAD * v for v in (LAT0, LAT1, LAT2))
M1, M2 = _m(_PHI1), _m(_PHI2)
Q0, Q1, Q2 = (_q(dsin_py(p)) for p in (_PHI0, _PHI1, _PHI2))
N = (M1 * M1 - M2 * M2) / (Q2 - Q1)  # Snyder eq 14-14 (cone constant)
C = M1 * M1 + N * Q1                  # Snyder eq 14-13
RHO0 = A * math.sqrt(C - N * Q0) / N  # Snyder eq 14-12a
LON0_RAD = DEG2RAD * LON0


# --- per-point expression builders (args must be simple column refs) ---

def phi_sql(lat: str) -> str:
    return f"({dlit(DEG2RAD)} * {lat})"


def lam_sql(lon: str) -> str:
    return f"({dlit(DEG2RAD)} * {lon})"


def q_sql(s: str) -> str:
    """Snyder eq 3-12 over `s` = sin(phi) (a simple column ref)."""
    return (
        f"({dlit(ONE_MINUS_E2)} * ({s} / (1.0e0 - {dlit(E2)} * {s} * {s})"
        f" + {dlit(INV_E)} * {datanh_sql(f'({dlit(E)} * {s})')}))"
    )


def rho_sql(q: str) -> str:
    """Snyder eq 14-12: rho = a·sqrt(C - n·q)/n."""
    return f"({dlit(A)} * sqrt({dlit(C)} - {dlit(N)} * {q}) / {dlit(N)})"


def theta_sql(lam: str) -> str:
    """Snyder eq 14-4: theta = n·(lambda - lambda0)."""
    return f"({dlit(N)} * ({lam} - {dlit(LON0_RAD)}))"


def x_sql(rho: str, sin_theta: str) -> str:
    """Snyder eq 14-1: x = FE + rho·sin(theta)."""
    return f"({dlit(FE)} + {rho} * {sin_theta})"


def y_sql(rho: str, cos_theta: str) -> str:
    """Snyder eq 14-2: y = FN + rho0 - rho·cos(theta)."""
    return f"({dlit(FN)} + {dlit(RHO0)} - {rho} * {cos_theta})"


def line_length_m_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    """O20: planar Euclidean length of a 2-point line in a projected CRS."""
    return f"sqrt(({x2} - {x1}) * ({x2} - {x1}) + ({y2} - {y1}) * ({y2} - {y1}))"


def sog_kt_sql(len_m: str, duration: str) -> str:
    """O21 with the Q4 totality guard: NULL when duration ≤ 0."""
    return f"(CASE WHEN {duration} > 0 THEN ({len_m} / {duration}) * {dlit(KNOTS_PER_MPS)} ELSE NULL END)"


# --- layered composition (keeps expression text linear, not exponential) ---
# Each layer introduces named intermediates so every builder above receives
# a simple column ref. The SAME layer list drives: (a) nested SELECTs for
# the DuckDB oracle, (b) ONE projection for DataFrame pipelines, whose later
# layers refer to earlier ones by lateral column alias, (c) the pure Python
# mirror — identical op trees, bit-identical results. One projection is
# analyzed once; a Dataset per layer re-analyzed the whole growing plan at
# every step.

def _point_layers(lon: str, lat: str, sfx: str) -> list[list[tuple[str, str]]]:
    p, l, s = f"__phi{sfx}", f"__lam{sfx}", f"__s{sfx}"
    q, t, r = f"__q{sfx}", f"__theta{sfx}", f"__rho{sfx}"
    st, ct = f"__st{sfx}", f"__ct{sfx}"
    return [
        [(p, phi_sql(lat)), (l, lam_sql(lon))],
        [(s, dsin_sql(p))],
        [(q, q_sql(s)), (t, theta_sql(l))],
        [(r, rho_sql(q)), (st, dsin_sql(t)), (ct, dcos_sql(t))],
        [(f"x{sfx}", x_sql(r, st)), (f"y{sfx}", y_sql(r, ct))],
    ]


def _merge_layers(points: list[tuple[str, str, str]]) -> list[list[tuple[str, str]]]:
    per_point = [_point_layers(lon, lat, sfx) for lon, lat, sfx in points]
    return [[col for layers in per_point for col in layers[i]] for i in range(5)]


def albers_layers(points: list[tuple[str, str, str]]) -> list[list[tuple[str, str]]]:
    """Layered (name, sql_expr) plan projecting each (lon, lat, suffix)
    point to x{suffix}, y{suffix}. Intermediates are prefixed `__`."""
    return _merge_layers(points)


def albers_cte_sql(inner_sql: str, points: list[tuple[str, str, str]], keep: list[str]) -> str:
    """Wrap `inner_sql` in nested SELECTs computing x/y per point; emit
    `keep` + x/y columns. Valid in both Spark SQL and DuckDB."""
    sql = f"({inner_sql})"
    for layer in _merge_layers(points):
        cols = ", ".join(f"{expr} AS {name}" for name, expr in layer)
        sql = f"(SELECT *, {cols} FROM {sql})"
    out = ", ".join(keep + [f"x{sfx}, y{sfx}" for _, _, sfx in points])
    return f"SELECT {out} FROM {sql}"


def with_albers(df: DataFrame, points: list[tuple[str, str, str]]) -> DataFrame:
    """DataFrame form: adds x{sfx}, y{sfx} per point, drops intermediates.
    Same expression tree as `albers_cte_sql` → bit-identical values."""
    return with_layers(df, _merge_layers(points))


# --- spatial predicates (P6 follow-through: the reference builds a GiST
# index it never queries, sql_to_line.py:236-238 — these are the queries a
# geo user would run against it, expressed as exact-rounded column math
# that is bit-identical across Spark/DuckDB/Python) ---

def point_in_bbox_sql(x: str, y: str, xmin: float, ymin: float, xmax: float, ymax: float) -> str:
    """Boolean expr: point (x, y) inside the closed bbox. Comparisons only
    — engine-independent."""
    return (
        f"({x} >= {dlit(xmin)} AND {x} <= {dlit(xmax)} AND "
        f"{y} >= {dlit(ymin)} AND {y} <= {dlit(ymax)})"
    )


def point_segment_dist_layers(
    px: str, py: str, x1: str, y1: str, x2: str, y2: str, out: str = "dist_m"
) -> list[list[tuple[str, str]]]:
    """Layered (name, expr) plan for the distance from point (px, py) to
    the 2-point segment (x1,y1)-(x2,y2): project onto the segment, clamp
    t to [0,1] (degenerate segments fall back to point distance), then
    Euclidean distance to the closest point. Only +,-,*,/,sqrt,least/
    greatest and CASE — IEEE exact-rounded, identical on both engines.
    Apply with `with_layers` (Spark) / `layers_cte_sql` (oracle)."""
    g = f"__{out}"
    return [
        [
            (f"{g}_dx", f"({x2} - {x1})"),
            (f"{g}_dy", f"({y2} - {y1})"),
            (f"{g}_wx", f"({px} - {x1})"),
            (f"{g}_wy", f"({py} - {y1})"),
        ],
        [
            (f"{g}_len2", f"({g}_dx * {g}_dx + {g}_dy * {g}_dy)"),
            (f"{g}_dot", f"({g}_wx * {g}_dx + {g}_wy * {g}_dy)"),
        ],
        [
            (
                f"{g}_t",
                f"(CASE WHEN {g}_len2 > 0e0 THEN "
                f"greatest(0e0, least(1e0, {g}_dot / {g}_len2)) ELSE 0e0 END)",
            )
        ],
        [
            (f"{g}_rx", f"({g}_wx - {g}_t * {g}_dx)"),
            (f"{g}_ry", f"({g}_wy - {g}_t * {g}_dy)"),
        ],
        [(out, f"sqrt({g}_rx * {g}_rx + {g}_ry * {g}_ry)")],
    ]


def layers_cte_sql(inner_sql: str, layers: list[list[tuple[str, str]]], keep: list[str]) -> str:
    """Wrap `inner_sql` in nested SELECTs applying a layered expression
    plan; emit only `keep`. Valid in both Spark SQL and DuckDB."""
    sql = f"({inner_sql})"
    for layer in layers:
        cols = ", ".join(f"{expr} AS {name}" for name, expr in layer)
        sql = f"(SELECT *, {cols} FROM {sql})"
    return f"SELECT {', '.join(keep)} FROM {sql}"


def project_layers(df: DataFrame, layers: list[list[tuple[str, str]]]) -> DataFrame:
    """`df`'s columns plus every layer's columns, in ONE projection: an
    expression reads an earlier layer's column by lateral column alias.
    A name resolves to an input column first, so layers must introduce
    new names. Intermediates are kept; project them away afterwards."""
    return df.selectExpr("*", *(f"{expr} AS {name}" for layer in layers for name, expr in layer))


def with_layers(df: DataFrame, layers: list[list[tuple[str, str]]]) -> DataFrame:
    """DataFrame form of `layers_cte_sql` — same expression tree, as one
    projection (`project_layers`) and a final one that drops the `__`
    intermediates."""
    drop = [name for layer in layers for name, _ in layer if name.startswith("__")]
    return project_layers(df, layers).drop(*drop)


def forward_py(lon: float, lat: float) -> tuple[float, float]:
    """Pure-Python mirror of the kernel (same op order ⇒ same bits)."""
    phi, lam = DEG2RAD * lat, DEG2RAD * lon
    s = dsin_py(phi)
    q = ONE_MINUS_E2 * (s / (1.0 - E2 * s * s) + INV_E * datanh_py(E * s))
    theta = N * (lam - LON0_RAD)
    rho = A * math.sqrt(C - N * q) / N
    return FE + rho * dsin_py(theta), FN + RHO0 - rho * dcos_py(theta)


# --- Column API conveniences (DataFrame pipelines) ---

def make_line(srid: int, x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """O16+O17+O18: geometry as struct<srid,x1,y1,x2,y2> (SURVEY.md §1.4)."""
    return F.struct(
        F.lit(srid).alias("srid"),
        x1.alias("x1"),
        y1.alias("y1"),
        x2.alias("x2"),
        y2.alias("y2"),
    )
