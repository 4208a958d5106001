"""Geodesy queries — the reference's computational core as Spark plans.

Covers SURVEY.md §2.7 operators O16-O22 (make line, set SRID, Albers
4326→3005 transform, planar length, SOG knots) over the synthetic AIS
segments derivation (plans/ais.py, FIXTURES.md §B1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions import geo
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.plans import ais
from posting_lines_spark.queries import register
from posting_lines_spark.queries.parity import lavg, lavg_expr, lsum, lsum_expr

_POINTS = [("start_lon", "start_lat", "1"), ("end_lon", "end_lat", "2")]
_SEG_COLS = [
    "segment_id",
    "uid",
    "mmsi",
    "start_time",
    "duration",
    "needs_geom",
    "returnflag",
]


def enriched_sql(keep_extra: list[str] | None = None) -> str:
    """Shared SQL: segments + projected endpoints + len_m + sog_kt."""
    proj = geo.albers_cte_sql(ais.SEGMENTS_SQL, _POINTS, keep=_SEG_COLS + (keep_extra or []))
    with_len = (
        f"SELECT *, {geo.line_length_m_sql('x1', 'y1', 'x2', 'y2')} AS len_m FROM ({proj})"
    )
    return f"SELECT *, {geo.sog_kt_sql('len_m', 'duration')} AS sog_kt FROM ({with_len})"


_ENRICH_LAYERS = geo.albers_layers(_POINTS) + [
    [("len_m", geo.line_length_m_sql("x1", "y1", "x2", "y2"))],
    [("sog_kt", geo.sog_kt_sql("len_m", "duration"))],
]


def enrich_all_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame form of `enriched_sql` — same expression tree, as one
    projection over the segments (scan → project; no shuffle)."""
    return geo.with_layers(ais.segments_df(spark, sf_dir), _ENRICH_LAYERS)


def enrich_materialized(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    """Storage-boundary form of `enrich_all_df` for consumers that FILTER
    or JOIN on the derived x/y columns.

    Filtering the lazy frame makes Catalyst push the predicate through the
    projection, inlining the full Albers polynomial into the Filter/Join
    condition; past Janino's 64KB method limit Spark silently falls back
    to interpreted row-at-a-time execution (the hazard documented at
    operators/pipeline.py:23-31 — observed live on geo_bbox_filter in
    round 2). The lineage cut here makes downstream plans see plain
    attribute refs: scan → tiny filter, whole-stage codegen end to end.

    At production scale the boundary is the enriched parquet table the
    pipeline already writes (O3/O6 — sql_to_line.py:205-234 persists the
    same derived columns via UPDATE); these self-contained queries use
    a local cut (`cuts.cut`) instead: partitions materialize executor-local
    (no driver collect, linear in input splits). `eager=False` defers
    materialization to first use — exactly one job. Select only `cols`
    before the cut so the materialized width is minimal.
    """
    return cut(enrich_all_df(spark, sf_dir).select(*cols))  # plan-size: the Janino boundary


# scale=3 for the geo aggregates: len_m/sog_kt are sqrt outputs (full-
# entropy decimals), and double→fixed-point rounding differs across
# engines when a value lands within half an ulp of a rounding boundary —
# expected boundary hits ≈ n·v·2.2e-16·10^scale, which at scale 6 becomes
# ~1 per million sqrt-valued rows. Millimetre quantization keeps it ≪ 1
# at sf1+. The int64 route (lavg/lsum) applies because the measures are
# physically bounded: len_m < 4e3 m and sog_kt < 1e3 kt ⇒ > 10^12-row
# headroom before the i64 sum could overflow (parity.py lsum_expr).
FLAGSHIP_ORACLE = f"""
SELECT returnflag,
       count(*) AS n_segments,
       count(sog_kt) AS n_with_sog,
       {lavg("len_m", "avg_len_m", scale=3)},
       {lavg("sog_kt", "avg_sog_kt", scale=3)},
       {lsum("len_m", "total_len_m", scale=3)}
FROM ({enriched_sql()})
GROUP BY returnflag
"""


@register(
    "geo_flagship",
    oracle=FLAGSHIP_ORACLE,
    description="O16-O21 end-to-end: derive segments, project EPSG:3005, "
    "length + SOG, aggregate per returnflag (sql_to_line.py:205-224)",
)
def geo_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich_all_df(spark, sf_dir)
    return (
        df.groupBy("returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count("sog_kt").alias("n_with_sog"),
            F.expr(lavg_expr("len_m", scale=3)).alias("avg_len_m"),
            F.expr(lavg_expr("sog_kt", scale=3)).alias("avg_sog_kt"),
            F.expr(lsum_expr("len_m", scale=3)).alias("total_len_m"),
        )
    )


PROJECT_POINTS_ORACLE = f"""
SELECT segment_id, x1, y1, x2, y2, len_m, sog_kt
FROM ({enriched_sql()})
ORDER BY segment_id, x1, y1, x2, y2
LIMIT 1000
"""


@register(
    "geo_project_points",
    oracle=PROJECT_POINTS_ORACLE,
    description="Per-row O19 projection + O20/O21 outputs, top-1000 by key "
    "(bit-identical doubles — deterministic kernel, no rounding needed)",
)
def geo_project_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich_all_df(spark, sf_dir)
    return (
        # full-column ordering: segment_id carries duplicates (plans/ais.py),
        # so the LIMIT cutoff must be deterministic across engines
        df.select("segment_id", "x1", "y1", "x2", "y2", "len_m", "sog_kt")
        .orderBy("segment_id", "x1", "y1", "x2", "y2")
        .limit(1000)
    )


WKT_ORACLE = f"""
SELECT segment_id,
       printf('LINESTRING(%.3f %.3f, %.3f %.3f)', x1, y1, x2, y2) AS wkt
FROM ({enriched_sql()})
ORDER BY segment_id, wkt
LIMIT 1000
"""


@register(
    "geo_line_wkt",
    oracle=WKT_ORACLE,
    description="O17 interop form: WKT LINESTRING export at mm precision "
    "(PostGIS parity, sql_to_line.py:211); C-style %.3f formatting is "
    "byte-identical across engines (measured, incl. half-even edge cases)",
)
def geo_line_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich_all_df(spark, sf_dir)
    return (
        df.select(
            "segment_id",
            F.format_string(
                "LINESTRING(%.3f %.3f, %.3f %.3f)",
                F.col("x1"),
                F.col("y1"),
                F.col("x2"),
                F.col("y2"),
            ).alias("wkt"),
        )
        .orderBy("segment_id", "wkt")
        .limit(1000)
    )


# --- per-vessel track summary (the reference user's next query) ---
# The reference enriches segments and stops; its user's first analytics
# ask is per-vessel: how far did each ship travel, how fast. Pure
# aggregate over the enriched frame keyed on mmsi: totals via the int64
# fixed-point route (len_m bounded ⇒ exact/associative), the fleet-wide
# mean speed recomputed from exact totals (total_len / total_dur — one
# IEEE division, not an avg-of-ratios), max over doubles is
# order-independent by definition.

TRACK_ORACLE = f"""
SELECT mmsi,
       CAST(count(*) AS BIGINT) AS n_segments,
       {lsum("len_m", "total_len_m", scale=3)},
       CAST(sum(duration) AS BIGINT) AS total_duration_s,
       ({lsum_expr("len_m", scale=3)} / sum(duration)) * 1.94384e0 AS track_sog_kt,
       max(sog_kt) AS max_sog_kt
FROM ({enriched_sql()})
WHERE duration > 0
GROUP BY mmsi
"""


@register(
    "geo_track_summary",
    oracle=TRACK_ORACLE,
    description="per-vessel trajectory summary: distance/time totals via "
    "the exact int64 fixed-point route, track-level speed from exact "
    "totals (not avg-of-ratios), max segment speed — one hash aggregate "
    "on mmsi, the reference user's first analytics query",
)
def geo_track_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(TRACK_ORACLE)


# --- density heatmap grid (tile-server aggregation) ---
# Segment-start density at two zoom levels over projected coordinates —
# the aggregation behind every map heatmap tile. Cells are
# floor-division bucket ids (exact integer math on both engines); the
# two zooms are two aggregates unioned with a zoom tag. Map-side
# combine makes each a |cells|-row shuffle at any SF.

HEATMAP_ORACLE = f"""
WITH pts AS (SELECT x1, y1, len_m FROM ({enriched_sql()})),
z1 AS (
  SELECT CAST(1 AS BIGINT) AS zoom,
         CAST(floor(x1 / 400000e0) AS BIGINT) AS cell_x,
         CAST(floor(y1 / 400000e0) AS BIGINT) AS cell_y,
         CAST(count(*) AS BIGINT) AS n_points,
         {lsum("len_m", "cell_len_m", scale=3)}
  FROM pts GROUP BY 2, 3
),
z2 AS (
  SELECT CAST(2 AS BIGINT) AS zoom,
         CAST(floor(x1 / 100000e0) AS BIGINT) AS cell_x,
         CAST(floor(y1 / 100000e0) AS BIGINT) AS cell_y,
         CAST(count(*) AS BIGINT) AS n_points,
         {lsum("len_m", "cell_len_m", scale=3)}
  FROM pts GROUP BY 2, 3
)
SELECT * FROM z1
UNION ALL
SELECT * FROM z2
"""


@register(
    "geo_heatmap_grid",
    oracle=HEATMAP_ORACLE,
    description="density heatmap tiles: segment-start counts + exact "
    "distance mass per 400 km and 100 km projected grid cell (two "
    "map-side-combined aggregates, |cells|-row shuffles) — the "
    "tile-server aggregation over the reference's geometry",
)
def geo_heatmap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(HEATMAP_ORACLE)
