"""Pipeline queries: the reference's incremental ETL semantics, oracle-checked.

The synthetic `segments` table (plans/ais.py) carries a deterministic
`needs_geom` flag replaying the reference's `geom IS NULL` contract
(sql_to_line.py:38-41). Rows with needs_geom=false carry "previously
computed" values, quantized with floor(x*1000)/1000 — exact FP ops, so
both engines see identical doubles AND merged output rows reveal whether
a row was preserved (quantized) or enriched (full precision): the merge
semantics are observable in the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions import geo
from posting_lines_spark.operators import pipeline
from posting_lines_spark.queries import register
from posting_lines_spark.queries.geo_q import enrich_all_df, enriched_sql
from posting_lines_spark.sources import read_parquet

_Q = "floor({c} * 1000.0e0) / 1000.0e0"  # deterministic quantizer (exact FP ops)


def segments_state_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segments with pipeline state: geom/len_m/sog_kt NULL where
    needs_geom (the reference's "unprocessed" rows), quantized
    previously-computed values elsewhere (FIXTURES.md §A1 geom contract)."""
    df = enrich_all_df(spark, sf_dir)
    done = ~F.col("needs_geom")
    pre = {c: F.expr(_Q.format(c=c)) for c in ("x1", "y1", "x2", "y2", "len_m", "sog_kt")}
    geom = geo.make_line(3005, pre["x1"], pre["y1"], pre["x2"], pre["y2"])
    return (
        df.withColumn("__geom", F.when(done, geom))
        .withColumn("len_m", F.when(done, pre["len_m"]))
        .withColumn("sog_kt", F.when(done, pre["sog_kt"]))
        .drop("x1", "y1", "x2", "y2")
        .withColumnRenamed("__geom", "geom")
    )


def segments_state_path(spark: SparkSession, sf_dir: str) -> str:
    """Parquet dir holding the state table, written once per process
    (content-stamped cache: changed testdata re-materializes). Streaming
    twins use this path directly as their file-stream source."""
    from posting_lines_spark.fixtures import cached_fixture

    return cached_fixture(
        "segments_state",
        sf_dir,
        lambda p: segments_state_df(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(p),
        "pls_state_pq_",
    )


def segments_state_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state table ACROSS A STORAGE BOUNDARY (written once per process,
    then read back) — the production shape: the pipeline enriches state
    that arrives from storage, so the enrichment queries measure the
    operator, not the synthetic-state derivation. Also sidesteps the
    plan-size hazard documented in operators/pipeline.py. The schema is
    inferred once per fixture (sources.read_parquet)."""
    return read_parquet(spark, segments_state_path(spark, sf_dir))


DETECT_ORACLE = f"""
SELECT segment_id FROM ({enriched_sql()}) WHERE needs_geom
"""


@register(
    "pipeline_detect",
    oracle=DETECT_ORACLE,
    description="O2 change-detection scan: keys of rows with NULL geom "
    "(sql_to_line.py:41-45); single-column projection pruned at the scan",
)
def pipeline_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.detect_unprocessed(segments_state_parquet(spark, sf_dir))


ENRICH_ORACLE = f"""
SELECT segment_id, duration,
       CASE WHEN needs_geom THEN x1 ELSE {_Q.format(c='x1')} END AS x1,
       CASE WHEN needs_geom THEN y1 ELSE {_Q.format(c='y1')} END AS y1,
       CASE WHEN needs_geom THEN x2 ELSE {_Q.format(c='x2')} END AS x2,
       CASE WHEN needs_geom THEN y2 ELSE {_Q.format(c='y2')} END AS y2,
       CASE WHEN needs_geom THEN len_m ELSE {_Q.format(c='len_m')} END AS len_m,
       CASE WHEN needs_geom THEN sog_kt ELSE {_Q.format(c='sog_kt')} END AS sog_kt
FROM ({enriched_sql()})
WHERE duration != 0
"""


@register(
    "pipeline_enrich",
    oracle=ENRICH_ORACLE,
    description="Full v1 pipeline (detect → clean → enrich → merge) as one "
    "shuffle-free pass (sql_to_line.py:24-141); per-row output proves merge "
    "semantics: preserved rows stay quantized, enriched rows are full precision",
)
def pipeline_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = pipeline.enrich_segments(segments_state_parquet(spark, sf_dir))
    return out.select(
        "segment_id",
        "duration",
        F.col("geom.x1").alias("x1"),
        F.col("geom.y1").alias("y1"),
        F.col("geom.x2").alias("x2"),
        F.col("geom.y2").alias("y2"),
        "len_m",
        "sog_kt",
    )


DAILY_ORACLE = f"""
SELECT CAST(start_time AS DATE) AS day, count(*) AS n_segments
FROM ({enriched_sql()})
GROUP BY 1
"""


@register(
    "pipeline_daily_counts",
    oracle=DAILY_ORACLE,
    description="O14+O15: distinct processing days + per-day segment counts "
    "(the reference's client-side set()/len() at sql_to_line.py:81-88,113-131) "
    "as one engine-side hash aggregate",
)
def pipeline_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.daily_counts(enrich_all_df(spark, sf_dir))


# --- Q5 extension: lastChange-based stale refresh (round 14) ---
# The reference's self-acknowledged blind spot (S1:38,43; SURVEY.md Q5):
# a row whose source fields changed AFTER it was processed keeps its
# stale len_m/sog_kt forever, because the v1 incrementality predicate is
# `geom IS NULL` alone. `pipeline_enrich` preserves that quirk verbatim
# for parity; this query runs the DOCUMENTED extension
# (operators/pipeline.py refresh_stale): recompute derived columns where
# geom IS NULL OR last_change > since. On the state fixture last_change
# is start_time (exactly the reference schema, where lastChange and the
# segment date both derive from l_shipdate); `since` is a fixed
# mid-range watermark so both refresh populations are non-trivial. The
# output makes the semantics observable per row: refreshed rows (NULL
# geom OR changed-after-watermark) carry full-precision recomputed
# values, preserved rows stay quantized.

REFRESH_SINCE = "1995-06-17"

REFRESH_ORACLE = f"""
SELECT segment_id, duration,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN x1 ELSE {_Q.format(c='x1')} END AS x1,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN y1 ELSE {_Q.format(c='y1')} END AS y1,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN x2 ELSE {_Q.format(c='x2')} END AS x2,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN y2 ELSE {_Q.format(c='y2')} END AS y2,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN len_m ELSE {_Q.format(c='len_m')} END AS len_m,
       CASE WHEN needs_geom OR start_time > DATE '{REFRESH_SINCE}'
            THEN sog_kt ELSE {_Q.format(c='sog_kt')} END AS sog_kt
FROM ({enriched_sql()})
WHERE duration != 0
"""


@register(
    "pipeline_refresh_stale",
    oracle=REFRESH_ORACLE,
    description="the Q5 EXTENSION (VERDICT r13 item 5; reference blind "
    "spot self-acknowledged at sql_to_line.py:38,43): refresh_stale "
    "recomputes geom/len_m/sog_kt where geom IS NULL OR last_change > "
    "since — stale-but-processed rows finally refresh, which v1 never "
    "does; same shuffle-free fused scan→project plan as pipeline_enrich "
    "(the parity path, which stays quirk-faithful and untouched); "
    "per-row output proves the split: refreshed rows full-precision, "
    "kept rows quantized; idempotent at a fixed watermark (tested)",
)
def pipeline_refresh_stale(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = segments_state_parquet(spark, sf_dir).withColumn(
        "last_change", F.col("start_time")
    )
    out = pipeline.refresh_stale(state, REFRESH_SINCE)
    return out.select(
        "segment_id",
        "duration",
        F.col("geom.x1").alias("x1"),
        F.col("geom.y1").alias("y1"),
        F.col("geom.x2").alias("x2"),
        F.col("geom.y2").alias("y2"),
        "len_m",
        "sog_kt",
    )
