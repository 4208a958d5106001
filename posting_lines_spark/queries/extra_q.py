"""Coverage-completion queries: cube, correlated EXISTS, scalar subquery,
unpivot/melt, exact percentiles, tumbling-window streaming aggregation,
and z-order spatial bucketing (the engine-side substitute for the
reference's GiST index, SURVEY.md §4 P6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.queries.geo_q import enrich_all_df, enriched_sql
from posting_lines_spark.queries.parity import davg_expr, dsum_expr
from posting_lines_spark.sources import load_table
from posting_lines_spark.streaming.harness import Dir

CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n, {dsum_expr('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register(
    "cube_counts",
    oracle=CUBE_ORACLE,
    description="CUBE grouping sets: all 4 grouping combinations in one "
    "Expand+aggregate (engine surface §2.4)",
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.expr(dsum_expr("l_quantity")).alias("sum_qty"))
    )


# Explicit GROUPING SETS with grouping() indicators — the same ANSI text
# runs on both engines (hash compare is order-insensitive, so the
# engines' different NULL sort defaults don't matter).
GROUPING_SETS_SQL = f"""
SELECT l_returnflag AS returnflag,
       l_linestatus AS linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n_rows,
       {dsum_expr('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "grouping_sets",
    oracle=GROUPING_SETS_SQL,
    description="explicit GROUPING SETS (the general form under rollup/"
    "cube) with grouping() membership indicators — one Expand+aggregate "
    "pass (engine surface §2.4)",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(GROUPING_SETS_SQL)


# Correlated EXISTS — the same ANSI text runs on both engines.
EXISTS_SQL = """
SELECT c_mktsegment AS mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0e0
)
GROUP BY c_mktsegment
"""


@register(
    "exists_subquery",
    oracle=EXISTS_SQL,
    description="correlated EXISTS subquery (Catalyst decorrelates to a "
    "left-semi join; engine surface §4 'subquery decorrelation')",
)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(EXISTS_SQL)


SCALAR_SUBQ_SQL = f"""
SELECT o_orderkey,
       o_totalprice / (SELECT {dsum_expr('o_totalprice')} / count(*) FROM orders) AS price_ratio
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


@register(
    "scalar_subquery",
    oracle=SCALAR_SUBQ_SQL,
    description="uncorrelated scalar subquery (broadcast single-value join); "
    "decimal-routed avg keeps the divisor bit-identical",
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SCALAR_SUBQ_SQL)


UNPIVOT_ORACLE = """
SELECT p_partkey, metric, value FROM (
  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
)
WHERE p_partkey <= 200
"""


@register(
    "unpivot_melt",
    oracle=UNPIVOT_ORACLE,
    description="unpivot/melt (wide→long; Spark unpivot API, oracle replays "
    "as UNION ALL — engine surface §2.6)",
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return (
        wide.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    )


PERCENTILE_ORACLE = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       count(*) AS n
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "agg_percentiles",
    oracle=PERCENTILE_ORACLE,
    description="exact percentiles (sort-based aggregate; Spark percentile ≡ "
    "DuckDB quantile_cont linear interpolation — measured bit-identical)",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


TUMBLING_ORACLE = f"""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
       event_type,
       count(*) AS n_events,
       {davg_expr('value')} AS avg_value
FROM events
GROUP BY 1, 2
"""


@register(
    "stream_tumbling",
    oracle=TUMBLING_ORACLE,
    description="streaming tumbling-window aggregation (window() + watermark, "
    "availableNow); oracle replays the window as epoch bucketing",
)
def stream_tumbling(
    spark: SparkSession, sf_dir: str, *, src: Dir = None, ckpt: Dir = None, out: Dir = None
) -> DataFrame:
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import _event_slices_src
    from posting_lines_spark.streaming.harness import drain, last_epoch, write_epoch

    src = src or _event_slices_src(spark, sf_dir)
    out = out or scratch_dir("pls_tumb_out_")
    # complete mode: every epoch writes the whole window table, so the
    # last epoch is the answer
    drain(
        spark, src, ckpt or scratch_dir("pls_tumb_ckpt_"),
        lambda r: r.parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.expr(davg_expr("value")).alias("avg_value"))
        .select(
            F.unix_micros("window.start").alias("hour_start_us"),
            "event_type",
            "n_events",
            "avg_value",
        )
        .writeStream.outputMode("complete")
        .foreachBatch(lambda df, epoch_id: write_epoch(df, out, epoch_id)),
    )
    return last_epoch(spark, out)


# --- z-order spatial bucketing (P6: the GiST-index substitute) ---

def _interleave_spark(x: str, y: str, bits: int = 6) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"shiftleft(shiftright({x}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftright({y}, {b}) & 1, {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def _interleave_duck(x: str, y: str, bits: int = 6) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


_CELLS = (
    "SELECT *, CAST(floor((start_lon - -134.0e0) / 12.0e0 * 63.999e0) AS BIGINT) AS cx, "
    "CAST(floor((start_lat - 48.0e0) / 6.0e0 * 63.999e0) AS BIGINT) AS cy FROM ({base})"
)

ZORDER_ORACLE = f"""
SELECT zcell, count(*) AS n_segments, {davg_expr('len_m')} AS avg_len_m
FROM (
  SELECT {_interleave_duck('cx', 'cy')} AS zcell, len_m
  FROM ({_CELLS.format(base=enriched_sql(keep_extra=['start_lon', 'start_lat']))})
)
GROUP BY zcell
"""


@register(
    "spatial_zorder",
    oracle=ZORDER_ORACLE,
    description="Z-order (Morton) spatial bucketing — the engine-side "
    "substitute for the reference's GiST index (SURVEY.md §4 P6): interleaved "
    "cell ids give locality-preserving layout/pruning keys for spatial data",
)
def spatial_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = enrich_all_df(spark, sf_dir)
    df = df.withColumn(
        "cx", F.expr("CAST(floor((start_lon - -134.0e0) / 12.0e0 * 63.999e0) AS BIGINT)")
    ).withColumn("cy", F.expr("CAST(floor((start_lat - 48.0e0) / 6.0e0 * 63.999e0) AS BIGINT)"))
    return (
        df.withColumn("zcell", F.expr(_interleave_spark("cx", "cy")))
        .groupBy("zcell")
        .agg(F.count(F.lit(1)).alias("n_segments"), F.expr(davg_expr("len_m")).alias("avg_len_m"))
    )


# --- Hilbert-curve layout vs Z-order: measured locality comparison ---
# The layout-clustering alternative to spatial_zorder's Morton code: the
# Hilbert curve visits every cell of a 2^k × 2^k grid so that CONSECUTIVE
# curve positions are always grid-neighbors — no Morton-style "seam
# jumps" — which is why lakehouse table formats offer hilbert clustering
# for multi-dimensional layout. xy→d is the standard rotate-and-descend
# recurrence (Hamilton's compact algorithm), unrolled here into one
# staged layer per bit with pure +/·/floor/% arithmetic (no engine
# bitwise ops, identical semantics on Spark and DuckDB).
#
# Output: one row per curve with the measured locality — the fraction of
# consecutive OCCUPIED cells (curve order) that are grid-neighbors
# (Chebyshev distance ≤ 2) plus the mean curve-index gap. Hilbert must
# beat Morton on both; the assertion lives in tests (not the oracle,
# which replays the identical computation).
#
# Scale: everything after the cell aggregate operates on DISTINCT CELLS
# (≤ 4096 for the 64×64 grid) — the lag window is bounded by the grid
# constant, never by data size.

HILBERT_BITS = 6


def _hilbert_layers(src: str) -> tuple[str, str]:
    """Staged CTEs computing hd (Hilbert index) from columns cx, cy."""
    layers = []
    prev = src
    for i, s in enumerate(2 ** b for b in range(HILBERT_BITS - 1, -1, -1)):
        x, y, d = ("cx", "cy", "CAST(0 AS BIGINT)") if i == 0 else ("hx", "hy", "hd")
        name = f"hl{i + 1}"
        layers.append(
            f"""{name} AS (
  SELECT *except_cols*,
         CAST(floor({x} / {s}.0e0) AS BIGINT) % 2 AS rx,
         CAST(floor({y} / {s}.0e0) AS BIGINT) % 2 AS ry,
         {x} AS px, {y} AS py, {d} AS pd
  FROM {prev}
),
{name}b AS (
  SELECT *except_cols*,
         pd + {s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
                              WHEN rx = 0 AND ry = 1 THEN 1
                              WHEN rx = 1 AND ry = 1 THEN 2
                              ELSE 3 END) AS hd,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - (py % {s}) ELSE py % {s} END)
              ELSE px % {s} END AS hx,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - (px % {s}) ELSE px % {s} END)
              ELSE py % {s} END AS hy
  FROM {name}
)"""
        )
        prev = f"{name}b"
    sql = ",\n".join(layers).replace("*except_cols*", "cx, cy")
    # each layer re-selects only (cx, cy) plus its own working columns
    return sql, prev


def _curve_locality_sql(base: str, interleave) -> str:
    hsql, hlast = _hilbert_layers("cells")
    return f"""
WITH cells AS (
  SELECT DISTINCT cx, cy FROM ({_CELLS.format(base=base)})
),
{hsql},
idx AS (
  SELECT cx, cy, {interleave("cx", "cy")} AS mcell, hd AS hcell
  FROM {hlast}
),
both_curves AS (
  SELECT 'morton' AS curve, mcell AS pos, cx, cy FROM idx
  UNION ALL
  SELECT 'hilbert' AS curve, hcell AS pos, cx, cy FROM idx
),
hops AS (
  SELECT curve, pos, cx, cy,
         lag(cx) OVER (PARTITION BY curve ORDER BY pos) AS pcx,
         lag(cy) OVER (PARTITION BY curve ORDER BY pos) AS pcy,
         lag(pos) OVER (PARTITION BY curve ORDER BY pos) AS ppos
  FROM both_curves
)
SELECT curve,
       CAST(count(*) AS BIGINT) AS n_hops,
       CAST(sum(CASE WHEN greatest(abs(cx - pcx), abs(cy - pcy)) <= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_local_hops,
       CAST(sum(pos - ppos) AS BIGINT) AS total_index_gap
FROM hops
WHERE ppos IS NOT NULL
GROUP BY curve
"""


@register(
    "spatial_hilbert_locality",
    oracle=_curve_locality_sql(
        enriched_sql(keep_extra=["start_lon", "start_lat"]), _interleave_duck
    ),
    description="Hilbert-curve layout vs Z-order, measured: both indices "
    "computed for the occupied 64x64 cells (Hilbert via the unrolled "
    "rotate-and-descend recurrence in portable integer arithmetic), then "
    "per-curve locality of consecutive occupied cells — the clustering "
    "quality argument lakehouse formats make for hilbert layout, as a "
    "query; all post-aggregate work is bounded by the grid constant",
)
def spatial_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        _curve_locality_sql(
            enriched_sql(keep_extra=["start_lon", "start_lat"]), _interleave_spark
        )
    )
