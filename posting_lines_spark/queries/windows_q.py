"""Window-function queries (SURVEY.md §2.5).

The reference has no OVER clauses, but its input schema is the OUTPUT of
the canonical window use-case: pairing consecutive AIS point postings
into (start,end) segments per vessel (SURVEY.md §2.5 — "the upstream
producer"). `events` stands in as the point stream (user_id ≙ vessel
mmsi, ts ≙ posting time), so `window_segments_producer` manufactures
exactly the reference's input columns (start/end point pairs + duration,
sql_to_line.py:187-192).

Parity: window frames are ordered, so even double-summation is
deterministic — but we still route sums through DECIMAL for exactness.
Timestamp arithmetic uses unix_micros (Spark) / epoch_us (DuckDB): both
produce int64 microseconds, no float drift. Window ORDER BY includes a
unique tiebreak (event_id) everywhere so ranks are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

TOPK_PER_TYPE_ORACLE = """
SELECT event_type, event_id, value, rn
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
)
WHERE rn <= 3
"""


@register(
    "window_topk_per_type",
    oracle=TOPK_PER_TYPE_ORACLE,
    description="ranking window: top-3 per group via row_number "
    "(engine surface §2.5; deterministic tiebreak on event_id)",
)
def window_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
    )


RUNNING_ORACLE = """
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(38,6)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value
FROM events
WHERE user_id < 10
"""


@register(
    "window_running_total",
    oracle=RUNNING_ORACLE,
    description="analytic window: running sum with explicit frame spec "
    "(rowsBetween; decimal-routed for exactness)",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
    return (
        e.withColumn("running_value", running)
        .select("user_id", "event_id", "running_value")
    )


SEGMENTS_PRODUCER_ORACLE = """
SELECT user_id,
       event_id AS start_event_id,
       epoch_us(ts) AS start_us,
       epoch_us(lead(ts) OVER w) AS end_us,
       epoch_us(lead(ts) OVER w) - epoch_us(ts) AS duration_us,
       value AS start_value,
       lead(value) OVER w AS end_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
QUALIFY end_us IS NOT NULL
"""


@register(
    "window_segments_producer",
    oracle=SEGMENTS_PRODUCER_ORACLE,
    description="the postings→segments producer (SURVEY.md §2.5): lead() per "
    "vessel/user manufactures the reference's input pairs "
    "(sql_to_line.py:187-192); int64-microsecond arithmetic, no float drift",
)
def window_segments_producer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.col("event_id").alias("start_event_id"),
            F.unix_micros("ts").alias("start_us"),
            F.unix_micros(F.lead("ts").over(w)).alias("end_us"),
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("duration_us"),
            F.col("value").alias("start_value"),
            F.lead("value").over(w).alias("end_value"),
        )
        .filter(F.col("end_us").isNotNull())
    )


SESSIONIZE_ORACLE = """
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) AS gap_us
    FROM events
  )
)
GROUP BY user_id
"""


@register(
    "window_sessionize",
    oracle=SESSIONIZE_ORACLE,
    description="batch sessionization (gaps-and-islands): lag + cumulative "
    "session counter, 30-min gap (SURVEY.md §2.8 extension; the batch twin "
    "of streaming session_window)",
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("session_id", F.sum(is_new).over(cum))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- analytic distribution functions (same ANSI text on both engines) ---

ANALYTICS_SQL = """
SELECT event_type, event_id,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@register(
    "window_analytics",
    oracle=ANALYTICS_SQL,
    description="analytic distribution windows: ntile / percent_rank / "
    "cume_dist over a named window (rank arithmetic only — integer ratios "
    "are bit-exact cross-engine; deterministic event_id tiebreak)",
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(ANALYTICS_SQL)


# --- hopping (sliding) event-time windows in batch ---
# The batch twin of streaming hopping windows: F.window(ts, 1h, 30m)
# assigns every event to exactly len/slide = 2 epoch-aligned windows.
# The oracle replays the window math in integer microseconds (start_j =
# 30min·(floor(us/30min) − j), j ∈ {0,1}; membership is then automatic),
# so the REAL window operator's bucketing is what gets verified.

from posting_lines_spark.queries.parity import dsum_expr  # noqa: E402

HOPPING_ORACLE = f"""
SELECT window_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       {dsum_expr('value')} AS total_value
FROM (
  SELECT (CAST(floor(epoch_us(ts) / 1800000000.0e0) AS BIGINT) - j) * 1800000000
           AS window_start_us,
         value
  FROM events CROSS JOIN (VALUES (0), (1)) t(j)
)
GROUP BY window_start_us
"""


@register(
    "window_hopping",
    oracle=HOPPING_ORACLE,
    description="hopping event-time windows in batch (1h length, 30min "
    "slide — each event in exactly 2 epoch-aligned windows) via the real "
    "window() operator; oracle replays the bucketing in integer µs. One "
    "shuffle on window start; low-cardinality keys, map-side combined",
)
def window_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(dsum_expr("value")).alias("total_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )


# --- RANGE-interval frame (value-based window, peak trailing-hour rate) ---
# Every other window in this family uses ROW frames; production rate
# monitors need VALUE frames — "events in the trailing hour" regardless
# of how many rows that is. RANGE BETWEEN x PRECEDING works over the
# int64 microsecond timeline (numeric range ordering — identical
# semantics in Spark and DuckDB, including the all-peers-at-equal-ts
# rule that ROW frames would break ties on arbitrarily). Output is the
# per-type PEAK trailing-hour count and cents (rate-limiter sizing),
# exact integers.
#
# Scale: the partition key is the 5-value type alphabet, so a naive
# per-event window would put whole types on single partitions at
# 100 TB. The fix is the seasonal family's pre-aggregation: bucket to
# (type, second) counts first (map-side combine), then run the RANGE
# frame over the CALENDAR-bounded bucket timeline — which is exactly
# how this query is written.

RANGE_WIN_US = 3_600_000_000  # 1 hour


def _range_frame_sql(epoch_us: str) -> str:
    return f"""
WITH sec AS (
  SELECT event_type,
         ({epoch_us} - ({epoch_us} % 1000000)) AS sec_us,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
win AS (
  SELECT event_type,
         CAST(sum(n) OVER w AS BIGINT) AS hr_n,
         CAST(sum(cents) OVER w AS BIGINT) AS hr_cents
  FROM sec
  WINDOW w AS (PARTITION BY event_type ORDER BY sec_us
               RANGE BETWEEN {RANGE_WIN_US - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(max(hr_n) AS BIGINT) AS peak_hour_events,
       CAST(max(hr_cents) AS BIGINT) AS peak_hour_cents
FROM win
GROUP BY event_type
"""


@register(
    "window_range_frame",
    oracle=_range_frame_sql("epoch_us(ts)"),
    description=f"value-based RANGE window frame (trailing "
    f"{RANGE_WIN_US // 1_000_000} s on the µs timeline): peak "
    "trailing-hour event count + cents per type — rate-limiter "
    "sizing; pre-bucketed to (type, second) map-side so the RANGE "
    "frame runs over the bounded bucket timeline, not raw rows",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_range_frame_sql("unix_micros(ts)"))
