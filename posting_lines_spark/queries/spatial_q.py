"""Spatial predicate queries — finishing the thought the reference starts
at sql_to_line.py:236-238 (it builds a GiST spatial index and never
queries it): point-in-bbox filtering and a station-to-segment distance
join over the struct geometry.

Scale design (100 TB): the distance join is a GRID-BUCKETED equi-join,
never a cross join. Segment start points land in 100 km cells; each
station probes its own cell plus the 8 neighbors (3×3 explode of a
25-row dimension → 225 broadcast rows), and the exact point-to-segment
distance filter runs on candidates only. The probe set is a guaranteed
candidate superset because radius + max segment length (90 km + 3.8 km)
is under one cell width, so any qualifying segment's start cell is
within ±1 of the station's cell. The oracle replays the SAME distance
expression over a brute-force cross join — exactness of the bucketing
is therefore checked, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions import geo
from posting_lines_spark.functions.geo import dlit
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.queries.geo_q import enrich_materialized, enriched_sql
from posting_lines_spark.queries.parity import davg_expr
from posting_lines_spark.sources import load_table

CELL_M = 100_000.0  # grid cell width (metres, projected EPSG:3005)
RADIUS_M = 90_000.0  # join radius; RADIUS_M + max segment len < CELL_M

# 25 deterministic stations derived from the nation table (same rows on
# both engines; coordinates inside the kernel's numeric domain)
STATIONS_SQL = """
SELECT n_nationkey AS station_id,
       -133.5e0 + CAST(n_nationkey * 7 % 25 AS DOUBLE) / 25e0 * 11e0 AS slon,
       48.3e0 + CAST(n_nationkey * 11 % 25 AS DOUBLE) / 25e0 * 5.4e0 AS slat
FROM nation
"""

_DIST_LAYERS = geo.point_segment_dist_layers("xs", "ys", "x1", "y1", "x2", "y2", out="dist_m")


def _stations_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Station dimension with projected (xs, ys), lineage-cut.

    The cut matters even at 25 rows: the 3×3 probe explode and downstream
    join/filter conditions would otherwise inline the Albers kernel 9×
    into a single Generate/condition expression on the broadcast build
    side — observed to overflow Janino's 64KB method limit (round 3,
    BroadcastExchangeExec compile failure). After the cut, xs/ys are plain
    attributes everywhere downstream."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    st = geo.with_albers(spark.sql(STATIONS_SQL), [("slon", "slat", "s")])
    return cut(st)  # plan-size: keeps the Albers kernel out of the probe

_STATIONS_PROJ = geo.albers_cte_sql(STATIONS_SQL, [("slon", "slat", "s")], keep=["station_id"])

DISTANCE_JOIN_ORACLE = f"""
WITH seg AS ({enriched_sql()}),
st AS ({_STATIONS_PROJ}),
cand AS (
  SELECT st.station_id, st.xs, st.ys, seg.x1, seg.y1, seg.x2, seg.y2
  FROM seg, st
),
d AS ({geo.layers_cte_sql("SELECT * FROM cand", _DIST_LAYERS, keep=["station_id", "dist_m"])})
SELECT station_id,
       count(*) AS n_segments,
       min(dist_m) AS min_dist_m,
       {davg_expr("dist_m", scale=3)} AS avg_dist_m
FROM d
WHERE dist_m <= {dlit(RADIUS_M)}
GROUP BY station_id
"""


@register(
    "geo_distance_join",
    oracle=DISTANCE_JOIN_ORACLE,
    description="spatial distance join: stations within 90 km of segments "
    "via 100 km grid-cell broadcast equi-join (3×3 probe, provably a "
    "candidate superset) + exact point-to-segment distance; oracle is the "
    "brute-force cross join with the identical distance expression",
)
def geo_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized across the storage boundary: cx/cy are join keys, and
    # deriving them from the lazy frame inlines the Albers kernel into the
    # hash-join key expression (Janino 64KB → interpreted fallback)
    seg = enrich_materialized(spark, sf_dir, ["x1", "y1", "x2", "y2"]).withColumns(
        {
            "cx": F.expr(f"CAST(floor(x1 / {dlit(CELL_M)}) AS BIGINT)"),
            "cy": F.expr(f"CAST(floor(y1 / {dlit(CELL_M)}) AS BIGINT)"),
        }
    )
    st = _stations_projected(spark, sf_dir).withColumns(
        {
            "scx": F.expr(f"CAST(floor(xs / {dlit(CELL_M)}) AS BIGINT)"),
            "scy": F.expr(f"CAST(floor(ys / {dlit(CELL_M)}) AS BIGINT)"),
        }
    )
    probes = st.select(
        "station_id",
        "xs",
        "ys",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("scx") + i).alias("cx"), (F.col("scy") + j).alias("cy")
                    )
                    for i in (-1, 0, 1)
                    for j in (-1, 0, 1)
                ]
            )
        ).alias("p"),
    ).select("station_id", "xs", "ys", "p.cx", "p.cy")
    # each segment has ONE (cx, cy) and a station's 9 probe cells are
    # distinct, so a (station, segment) pair matches at most once — no
    # dedup needed after the join
    cand = seg.join(F.broadcast(probes), ["cx", "cy"])
    d = geo.with_layers(cand, _DIST_LAYERS)
    return (
        d.filter(F.col("dist_m") <= F.lit(RADIUS_M))
        .groupBy("station_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.min("dist_m").alias("min_dist_m"),
            # scale=3 (mm quantization): many segments × ~1e5 m distances
            # per station pushes a scale-6 decimal sum into the range
            # where DECIMAL→DOUBLE casts split by 1 ulp across engines
            # (measured at sf0.1); scale 3 buys 1000× headroom
            F.expr(davg_expr("dist_m", scale=3)).alias("avg_dist_m"),
        )
    )


# --- nearest-neighbor (KNN) spatial join ---
# For every segment start point: the nearest station (point-to-point,
# projected metres), then per-station Voronoi-cell stats. The station
# dimension is tiny → broadcast; argmin is computed deterministically as
# min-distance aggregate + equality join + min(station_id) tie-break
# (never engine-specific arg_min, whose tie behavior differs). sqrt is
# IEEE correctly-rounded, so distances are bit-identical cross-engine.
# At scale with a LARGE neighbor dimension this becomes the grid-probe
# pattern above (probe rings outward until k candidates found).

KNN_DIST = "sqrt((x1 - xs) * (x1 - xs) + (y1 - ys) * (y1 - ys))"


def _knn_sql() -> str:
    return f"""
WITH seg AS ({enriched_sql()}),
st AS ({_STATIONS_PROJ}),
cand AS (
  SELECT seg.segment_id, st.station_id, {KNN_DIST} AS dist_m
  FROM seg CROSS JOIN st
),
m AS (
  SELECT segment_id, min(dist_m) AS min_dist_m FROM cand GROUP BY segment_id
),
nearest AS (
  SELECT c.segment_id, min(c.station_id) AS station_id, m.min_dist_m
  FROM cand c JOIN m ON c.segment_id = m.segment_id AND c.dist_m = m.min_dist_m
  GROUP BY c.segment_id, m.min_dist_m
)
SELECT station_id,
       count(*) AS n_nearest_segments,
       min(min_dist_m) AS closest_m,
       {davg_expr("min_dist_m", scale=3)} AS avg_dist_m
FROM nearest
GROUP BY station_id
"""


@register(
    "geo_knn_join",
    oracle=_knn_sql(),
    description="nearest-neighbor spatial join: per-segment nearest "
    "station (broadcast dimension + deterministic min-distance argmin "
    "with min-id tie-break), rolled up to per-station Voronoi-cell "
    "counts; with a large dimension this becomes the outward grid-probe "
    "pattern of geo_distance_join",
)
def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized: KNN_DIST + the min-dist equality filter would otherwise
    # re-derive x1/y1 from the lazy Albers projection inside a predicate
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seg = enrich_materialized(spark, sf_dir, ["segment_id", "x1", "y1"]).repartition(
        sp, "segment_id"
    )
    st = _stations_projected(spark, sf_dir)
    cand = seg.crossJoin(F.broadcast(st)).select(
        "segment_id", "station_id", F.expr(KNN_DIST).alias("dist_m")
    )
    # argmin as ONE lexicographic struct-min aggregate: min(struct(dist,
    # id)) = (min dist, min id among ties) — exactly the old agg + self-
    # join + equality filter + min(id) re-agg, without re-shuffling the
    # 25×-fanout candidate table (the 264 MB exchange measured in round
    # 15). The explicit hash repartition on segment_id above means the
    # groupBy reuses the partitioning: zero exchanges carry candidates.
    nearest = (
        cand.groupBy("segment_id")
        .agg(F.min(F.struct("dist_m", "station_id")).alias("s"))
        .select(
            "segment_id",
            F.col("s.station_id").alias("station_id"),
            F.col("s.dist_m").alias("min_dist_m"),
        )
    )
    return (
        nearest.groupBy("station_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearest_segments"),
            F.min("min_dist_m").alias("closest_m"),
            F.expr(davg_expr("min_dist_m", scale=3)).alias("avg_dist_m"),
        )
    )


# --- grid ring-probe KNN (the large-dimension form) ---
# geo_knn_join broadcasts the whole 25-row dimension — the right plan for
# a small dimension, impossible for a large one. This variant implements
# the outward grid probe the geo_knn_join docstring promises: each station
# materializes its cells out to Chebyshev ring R_MAX; segments equi-join
# on their ONE cell, so a segment only meets stations within R_MAX rings.
#
# Soundness bound (data-independent): any station in an unprobed ring
# r > R_MAX lies at Euclidean distance ≥ R_MAX·CELL from the segment
# (ring-r cells start (r-1) whole cells away). So when the best probed
# candidate has dist < R_MAX·CELL it IS the true nearest — and a segment
# whose true nearest is at dist < R_MAX·CELL always finds it (that
# station's cell is within R_MAX rings). Emitting only rows under the
# bound therefore matches a brute-force oracle filtered by the SAME
# bound, for ANY data. At scale R_MAX is the iteration knob: probe ring
# by ring and stop once (r-1)·CELL exceeds the best distance found; the
# static unroll here is that loop flattened into one equi-join.

KNN_RING_MAX = 2  # probe (2·R+1)² = 25 cells/station; bound = 200 km


def _knn_grid_sql() -> str:
    bound = dlit(KNN_RING_MAX * CELL_M)
    return f"""
WITH seg AS ({enriched_sql()}),
st AS ({_STATIONS_PROJ}),
cand AS (
  SELECT seg.segment_id, st.station_id, {KNN_DIST} AS dist_m
  FROM seg CROSS JOIN st
),
m AS (
  SELECT segment_id, min(dist_m) AS min_dist_m FROM cand GROUP BY segment_id
  HAVING min(dist_m) < {bound}
),
nearest AS (
  SELECT c.segment_id, min(c.station_id) AS station_id, m.min_dist_m
  FROM cand c JOIN m ON c.segment_id = m.segment_id AND c.dist_m = m.min_dist_m
  GROUP BY c.segment_id, m.min_dist_m
)
SELECT station_id,
       count(*) AS n_nearest_segments,
       min(min_dist_m) AS closest_m,
       {davg_expr("min_dist_m", scale=3)} AS avg_dist_m
FROM nearest
GROUP BY station_id
"""


@register(
    "geo_knn_grid",
    oracle=_knn_grid_sql(),
    description="grid ring-probe nearest-neighbor join (large-dimension "
    "KNN): stations explode to their ≤R_MAX Chebyshev ring cells, "
    "segments equi-join on their one cell, candidates with dist < "
    "R_MAX·CELL are provably the true nearest (unprobed rings start at "
    "R_MAX·CELL); oracle is the brute-force cross join under the same "
    "bound — exact for any data, candidates bounded by (2R+1)² per "
    "segment regardless of dimension size",
)
def geo_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seg = enrich_materialized(spark, sf_dir, ["segment_id", "x1", "y1"]).repartition(
        sp, "segment_id"
    ).withColumns(
        {
            "cx": F.expr(f"CAST(floor(x1 / {dlit(CELL_M)}) AS BIGINT)"),
            "cy": F.expr(f"CAST(floor(y1 / {dlit(CELL_M)}) AS BIGINT)"),
        }
    )
    st = _stations_projected(spark, sf_dir).withColumns(
        {
            "scx": F.expr(f"CAST(floor(xs / {dlit(CELL_M)}) AS BIGINT)"),
            "scy": F.expr(f"CAST(floor(ys / {dlit(CELL_M)}) AS BIGINT)"),
        }
    )
    r = KNN_RING_MAX
    probes = st.select(
        "station_id",
        "xs",
        "ys",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("scx") + i).alias("cx"), (F.col("scy") + j).alias("cy")
                    )
                    for i in range(-r, r + 1)
                    for j in range(-r, r + 1)
                ]
            )
        ).alias("p"),
    ).select("station_id", "xs", "ys", "p.cx", "p.cy")
    cand = seg.join(F.broadcast(probes), ["cx", "cy"]).select(
        "segment_id", "station_id", F.expr(KNN_DIST).alias("dist_m")
    )
    # same struct-min argmin rewrite as geo_knn_join (one aggregate, no
    # candidate re-shuffle); the HAVING bound filters the struct-min's
    # dist afterwards — identical to the old m-side filter because the
    # struct min's dist IS min(dist_m)
    nearest = (
        cand.groupBy("segment_id")
        .agg(F.min(F.struct("dist_m", "station_id")).alias("s"))
        .filter(F.col("s.dist_m") < F.lit(KNN_RING_MAX * CELL_M))
        .select(
            "segment_id",
            F.col("s.station_id").alias("station_id"),
            F.col("s.dist_m").alias("min_dist_m"),
        )
    )
    return (
        nearest.groupBy("station_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearest_segments"),
            F.min("min_dist_m").alias("closest_m"),
            F.expr(davg_expr("min_dist_m", scale=3)).alias("avg_dist_m"),
        )
    )


# central ~300×300 km window of the data extent
BBOX = (700_000.0, 500_000.0, 1_000_000.0, 800_000.0)

_BBOX_PRED = geo.point_in_bbox_sql("x1", "y1", *BBOX)

BBOX_ORACLE = f"""
SELECT returnflag, count(*) AS n_in_bbox
FROM ({enriched_sql()})
WHERE {_BBOX_PRED}
GROUP BY returnflag
"""


@register(
    "geo_bbox_filter",
    oracle=BBOX_ORACLE,
    description="point-in-bbox predicate over projected start points "
    "(closed bounds, comparisons only — the scan-level filter a GiST "
    "lookup would serve in the reference)",
)
def geo_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized: the bbox predicate on lazy x1/y1 is the exact hazard of
    # operators/pipeline.py:23-31 (observed interpreted-fallback, round 2)
    df = enrich_materialized(spark, sf_dir, ["returnflag", "x1", "y1"])
    return (
        df.filter(F.expr(_BBOX_PRED))
        .groupBy("returnflag")
        .agg(F.count(F.lit(1)).alias("n_in_bbox"))
    )


# --- point-in-polygon (ray casting) ---
# The ST_Contains predicate the reference's unused GiST index was built
# for, over a fixed coastal-zone pentagon in lon/lat. Classic even-odd
# ray cast, fully unrolled over the polygon's edges as literal-coordinate
# expression math: each edge contributes
#   ((yi > y) != (yj > y)) AND (x < (xj−xi)·(y−yi)/(yj−yi) + xi)
# and inside = odd crossing count. Every operation is an IEEE compare /
# multiply / divide on identical literals — the SAME SQL text runs on
# both engines, so parity is structural. Scale: pure map-side filter
# math (no join, no shuffle beyond the final 2-row aggregate); a
# many-polygon variant becomes a broadcast join of (polygon_id, edges)
# with the same per-edge expression.

ZONE = [(-133.0, 49.0), (-128.0, 48.5), (-123.0, 50.0), (-125.0, 53.5), (-131.0, 53.0)]


def _ray_cast_crossings(x: str, y: str) -> str:
    terms = []
    n = len(ZONE)
    for i in range(n):
        xi, yi = ZONE[i]
        xj, yj = ZONE[(i + 1) % n]
        cond = (
            f"(({dlit(yi)} > {y}) != ({dlit(yj)} > {y})) AND "
            f"({x} < ({dlit(xj)} - {dlit(xi)}) * ({y} - {dlit(yi)}) / "
            f"({dlit(yj)} - {dlit(yi)}) + {dlit(xi)})"
        )
        terms.append(f"(CASE WHEN {cond} THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _pip_sql() -> str:
    from posting_lines_spark.plans.ais import SEGMENTS_SQL

    return f"""
WITH seg AS ({SEGMENTS_SQL}),
pts AS (SELECT segment_id, start_lon AS x, start_lat AS y FROM seg),
c AS (SELECT segment_id, {_ray_cast_crossings('x', 'y')} AS crossings FROM pts)
SELECT (crossings % 2) = 1 AS inside,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(min(segment_id) AS BIGINT) AS min_seg,
       CAST(max(segment_id) AS BIGINT) AS max_seg,
       CAST(sum(segment_id) AS BIGINT) AS seg_checksum
FROM c
GROUP BY (crossings % 2) = 1
"""


@register(
    "geo_point_in_polygon",
    oracle=_pip_sql(),
    description="point-in-polygon via even-odd ray casting, unrolled over "
    "a literal coastal pentagon — the ST_Contains predicate as pure "
    "map-side expression math (no join, no UDF); identical SQL on both "
    "engines so parity is structural; many-polygon form broadcasts "
    "(polygon_id, edges) with the same per-edge terms",
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_pip_sql())


# --- DBSCAN core-point labeling (grid-bucketed eps-neighbor counts) ---
# The density phase of DBSCAN — which points have ≥ MINPTS neighbors
# within EPS — is the expensive, shuffle-shaped part of the algorithm
# (the later cluster-expansion is a connected-components pass the
# engine already has, operators/graph.py). Same grid discipline as
# geo_distance_join: cells of width EPS; the exact test compares
# SQUARED distance to EPS² — mul/add only, no sqrt, so the predicate
# is engine-identical on the kernel-projected x/y. The self-join uses
# the plane-sweep HALVING: each point probes only its own cell plus 4
# FORWARD neighbors ((1,0),(−1,1),(0,1),(1,1)), id-ordered inside the
# own cell, so every unordered eps-pair is found EXACTLY ONCE (still a
# proven superset: any point within EPS lies within ±1 cell, and each
# adjacent-cell direction appears in exactly one of the two points'
# forward probe sets) — half the candidate work of the naive 3×3
# (measured at sf0.1: 36.5 s naive → see SCALE.md round-6 table);
# per-point neighbor counts then come from exploding both endpoints of
# the (far smaller) VERIFIED pair set. Output is the core/non-core
# summary (2 rows) with decimal-exact mean neighbor counts; neighbor
# multisets include the point itself (standard |N_eps(p)| ≥ minPts)
# via the 1 + count form, and the left join keeps isolated points.
#
# Scale: candidate fanout is density-bounded — Σ_cell ~4.5·n̂_cell² —
# never a cross join; skewed cells are the classic salting candidate.
# Spark side self-joins ACROSS A STORAGE BOUNDARY (enrich_materialized)
# so cx/cy are plain attributes, not inlined Albers kernels, in the
# join key (the Janino 64KB lesson).
#
# WEIGHTED DISTINCT-COORDINATE REWRITE (r10, VERDICT item 4): the
# first sf10 run had to be killed at ≥57 min. Diagnosis from the
# query's own output: avg_neighbors grew EXACTLY 10× per decade
# (71.84 → 718.38 at sf0.1 → sf1) because the scale-up replicates
# event values verbatim — points stack at IDENTICAL coordinates, so
# verified pairs ∝ N·density ∝ SF² (projected 2.15e11 pairs ≈ 5 h at
# sf10). Exact fix, same lesson as the r10 JW name-class redesign:
# collapse duplicates BEFORE the quadratic stage. Coordinates
# aggregate to (x, y, w=multiplicity) once; the eps-pair join runs
# over DISTINCT coords only (n̂_cell = distinct coords per cell, NOT
# points); a point's neighbor count is the weighted sum
#   n_neighbors(p at c) = w(c) + Σ_{c' ≠ c, dist ≤ eps} w(c')
# which equals the old 1 + #(other points within eps) exactly — own
# coord contributes itself plus its w−1 twins, every other coord its
# full multiplicity. The 2-row summary re-aggregates weighted
# (n_points = Σw, avg = Σw·nb / Σw as exact wide integers). On
# duplicate-free data this costs one extra map-side-combined groupBy
# and changes nothing; on duplicated data the quadratic term depends
# on the DISTINCT support only — sf10 pair work equals sf0.1's.

DBSCAN_EPS_M = 5_000.0
DBSCAN_MINPTS = 10

# forward half-plane probes; (0,0) pairs are id-ordered instead
_DBSCAN_FWD = [(0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]

_DBSCAN_OFFSETS = " UNION ALL ".join(
    f"SELECT {i} AS dx, {j} AS dy" for i, j in _DBSCAN_FWD
)


def _dbscan_core_sql(w38: str = "HUGEINT") -> str:
    eps2 = dlit(DBSCAN_EPS_M * DBSCAN_EPS_M)
    cell = dlit(DBSCAN_EPS_M)
    return f"""
WITH seg AS ({enriched_sql()}),
pts AS (
  SELECT DISTINCT segment_id AS id, x1 AS x, y1 AS y,
         CAST(floor(x1 / {cell}) AS BIGINT) AS cx,
         CAST(floor(y1 / {cell}) AS BIGINT) AS cy
  FROM seg
),
coords AS (
  SELECT x, y, cx, cy, CAST(count(*) AS BIGINT) AS w
  FROM pts GROUP BY x, y, cx, cy
),
offsets AS ({_DBSCAN_OFFSETS}),
probes AS (
  SELECT x, y, w, dx, dy, cx + dx AS pcx, cy + dy AS pcy
  FROM coords CROSS JOIN offsets
),
pairs AS (
  SELECT a.x AS xa, a.y AS ya, a.w AS wa,
         b.x AS xb, b.y AS yb, b.w AS wb
  FROM probes a JOIN coords b ON b.cx = a.pcx AND b.cy = a.pcy
  WHERE (a.dx <> 0 OR a.dy <> 0 OR (a.x, a.y) < (b.x, b.y))
    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {eps2}
),
ends AS (
  SELECT xa AS x, ya AS y, wb AS nw FROM pairs
  UNION ALL
  SELECT xb AS x, yb AS y, wa AS nw FROM pairs
),
neigh AS (
  SELECT c.x, c.y, c.w,
         c.w + coalesce(e.s, CAST(0 AS BIGINT)) AS n_neighbors
  FROM coords c
  LEFT JOIN (SELECT x, y, CAST(sum(nw) AS BIGINT) AS s
             FROM ends GROUP BY x, y) e
    ON e.x = c.x AND e.y = c.y
)
SELECT n_neighbors >= {DBSCAN_MINPTS} AS is_core,
       CAST(sum(w) AS BIGINT) AS n_points,
       CAST(min(n_neighbors) AS BIGINT) AS min_neighbors,
       CAST(max(n_neighbors) AS BIGINT) AS max_neighbors,
       CAST(CAST(sum(CAST(w AS {w38}) * n_neighbors) AS STRING) AS DOUBLE)
         / sum(w) AS avg_neighbors
FROM neigh
GROUP BY 1
"""


@register(
    "geo_dbscan_core",
    oracle=_dbscan_core_sql(),
    description=f"DBSCAN core-point labeling (eps {DBSCAN_EPS_M / 1000:.0f} "
    f"km, minPts {DBSCAN_MINPTS}): grid-bucketed 3×3 self-join (proven "
    "eps-neighbor superset), squared-distance predicate (no sqrt — "
    "engine-identical), core/non-core summary with decimal-exact mean "
    "neighbor counts; the density phase of DBSCAN, cluster expansion "
    "being a CC pass the engine already has",
)
def geo_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DISTINCT: the point SET — (segment_id, x1, y1) triples can repeat
    # in the raw table (one exact-duplicate at sf0.1) and a duplicated
    # point would double its own neighbor count
    pts = (
        enrich_materialized(spark, sf_dir, ["segment_id", "x1", "y1"])
        .selectExpr(
            "segment_id AS id",
            "x1 AS x",
            "y1 AS y",
            f"CAST(floor(x1 / {dlit(DBSCAN_EPS_M)}) AS BIGINT) AS cx",
            f"CAST(floor(y1 / {dlit(DBSCAN_EPS_M)}) AS BIGINT) AS cy",
        )
        .distinct()
    )
    # weighted distinct-coordinate collapse (r10): the quadratic stage
    # must see each coordinate once, with its multiplicity as a weight.
    # LAZY cut (round 16, settling the round-15 driver contradiction
    # with an interleaved same-session A/B at sf0.1, 5 rounds each):
    # eager 3.71 s / lazy 2.78 s / none 3.88 s. The checkpoint IS
    # load-bearing — without it the scan→enrich→distinct→agg chain
    # recomputes per consumer (probe explode, join build side, the
    # neighbor-count left join) — but the round-15 EAGER barrier
    # serialized the pipeline for ~0.9 s of pure wait; lazily
    # checkpointed blocks are computed once under the block-manager
    # lock and the downstream stages overlap.
    coords = cut(  # shared: the probe explode, the join build side, the neighbor count
        pts.groupBy("x", "y", "cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    probes = coords.select(
        "x",
        "y",
        "w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("dx"), F.lit(j).alias("dy"),
                        (F.col("cx") + i).alias("pcx"), (F.col("cy") + j).alias("pcy"),
                    )
                    for i, j in _DBSCAN_FWD
                ]
            )
        ).alias("p"),
    ).select("x", "y", "w", "p.dx", "p.dy", "p.pcx", "p.pcy")
    b = coords.select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("w").alias("wb"),
        F.col("cx").alias("pcx"), F.col("cy").alias("pcy"),
    )
    eps2 = DBSCAN_EPS_M * DBSCAN_EPS_M
    # Both join sides are DATA-SHAPED (points and their 5x probe
    # explode) — the SNM rule applies: they must never reach a broadcast
    # decision (at sf1 the post-DISTINCT size estimate slipped under the
    # 64MB threshold and the ~4.6M-row build side OOM'd the driver —
    # observed live, round 6). SHUFFLE_HASH pins a cell-keyed shuffled
    # hash join: no sort over the fanout stream, no driver broadcast,
    # AQE still handles skewed cells.
    pairs = (
        probes.join(b.hint("shuffle_hash"), ["pcx", "pcy"])
        .filter(
            (
                (F.col("dx") != 0)
                | (F.col("dy") != 0)
                | (F.struct("x", "y") < F.struct("bx", "by"))
            )
            & (
                (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
                + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
                <= F.lit(eps2)
            )
        )
        .select("x", "y", "w", "bx", "by", "wb")
    )
    # coordinates are exact float copies, never arithmetic results, so
    # the equality join/group keys below are safe.
    # Both directions from ONE pass over pairs (round 15): the unionAll
    # form re-planned the whole quadratic cell join once per branch, and
    # AQE stage reuse only partially deduped the copies at runtime
    # (profiled: the coords subtree computed 3×, two 13 MB pair-join map
    # stages). explode(array(...)) emits the same two (x, y, nw) rows per
    # pair inside the join's own stage — identical multiset into the
    # SUM aggregate, half the join work.
    ends = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x"), F.col("y"), F.col("wb").alias("nw")
                ),
                F.struct(
                    F.col("bx").alias("x"), F.col("by").alias("y"),
                    F.col("w").alias("nw"),
                ),
            )
        ).alias("e")
    ).select("e.x", "e.y", "e.nw")
    neigh = (
        coords.join(
            ends.groupBy("x", "y").agg(F.sum("nw").cast("long").alias("s")),
            ["x", "y"],
            "left",
        )
        .select(
            "w",
            (F.col("w") + F.coalesce("s", F.lit(0))).alias("n_neighbors"),
        )
    )
    return (
        neigh.groupBy(
            (F.col("n_neighbors") >= DBSCAN_MINPTS).alias("is_core")
        )
        .agg(
            F.sum("w").cast("long").alias("n_points"),
            F.min("n_neighbors").alias("min_neighbors"),
            F.max("n_neighbors").alias("max_neighbors"),
            (
                F.expr(
                    "CAST(CAST(sum(CAST(w AS DECIMAL(38,0)) * n_neighbors)"
                    " AS STRING) AS DOUBLE)"
                )
                / F.sum("w")
            ).alias("avg_neighbors"),
        )
    )


# --- stay-point detection (Li et al. 2008, grid-quantized variant) ---
# The trajectory-mining primitive the reference's AIS domain calls for
# next: where does a vessel STOP? A stay point is a maximal run of
# consecutive fixes (per vessel, time-ordered) inside one spatial cell,
# kept when it spans ≥ STAY_MIN_FIXES fixes. Cells quantize the fix
# position (here derived deterministically from the events table: the
# 2-dp value and event_id act as the synthetic position source, exactly
# integer on both engines), so run membership is an INTEGER comparison
# — no float tolerance anywhere. Run detection is gaps-and-islands:
# moved = cell != lag(cell), island = running sum of moved.
#
# Scale (100 TB): both windows partition BY VESSEL (user_id) — no
# global window, no single-partition shuffle; the per-island aggregate
# map-side combines. This is the reference's own partitioning insight
# (per-mmsi processing, sql_to_line.py:186) carried to the window world.

STAY_MIN_FIXES = 3


def _stay_points_sql(epoch_us: str) -> str:
    # synthetic but deterministic "position", chosen so runs actually
    # OCCUR (the phash lesson — a vacuous 0-row parity proves nothing):
    # the latitude band is the value's 50-unit bucket (10 bands, sticky
    # enough that ~1k runs of ≥3 exist at sf0.01), the longitude band is
    # the vessel's fixed home band. Both exact integers on both engines.
    clat = "CAST(floor(CAST(round(value * 100e0) AS BIGINT) / 5000.0e0) AS BIGINT)"
    clon = "user_id % 50"
    return f"""
WITH fixes AS (
  SELECT user_id, event_id, {epoch_us} AS us,
         {clat} AS clat, {clon} AS clon
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us, clat, clon,
         CASE WHEN lag(clat) OVER w IS NULL THEN 1
              WHEN lag(clat) OVER w = clat AND lag(clon) OVER w = clon THEN 0
              ELSE 1 END AS moved
  FROM fixes
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
islands AS (
  SELECT user_id, us, clat, clon,
         sum(moved) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
stays AS (
  SELECT user_id, island,
         min(clat) AS clat, min(clon) AS clon,
         CAST(count(*) AS BIGINT) AS n_fixes,
         min(us) AS start_us, max(us) AS end_us
  FROM islands
  GROUP BY user_id, island
)
SELECT user_id, clat, clon, n_fixes,
       start_us, end_us, end_us - start_us AS dwell_us
FROM stays
WHERE n_fixes >= {STAY_MIN_FIXES}
"""


@register(
    "geo_stay_points",
    oracle=_stay_points_sql("epoch_us(ts)"),
    description="stay-point detection over per-vessel trajectories "
    "(grid-quantized Li et al. 2008): gaps-and-islands over integer "
    "cell ids — moved flag via lag(), island via running sum, per-"
    "island dwell aggregate filtered to ≥ 3 fixes; every window "
    "partitions by vessel (no global window), run membership is exact "
    "integer comparison (no float tolerance)",
)
def geo_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_stay_points_sql("unix_micros(ts)"))
