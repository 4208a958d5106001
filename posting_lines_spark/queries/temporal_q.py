"""Temporal join queries: as-of join and bucketed range join
(operators/temporal.py) with DuckDB oracles (native ASOF JOIN / plain
inequality join — tractable at oracle scale, while the Spark side uses
the distributed formulations).

Domain: for every `purchase` event, the user's most recent prior `signup`
or `click` context event (as-of), and error events within 5 minutes after
any purchase (range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.operators import temporal
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

ASOF_ORACLE = """
SELECT l.event_id, l.user_id,
       epoch_us(l.ts) AS ts_us,
       r.value AS asof_value,
       epoch_us(r.ts) AS asof_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND r.ts <= l.ts
"""


@register(
    "asof_join",
    oracle=ASOF_ORACLE,
    description="as-of join (SURVEY.md §2.3 extension): latest prior click "
    "per purchase, per user — union + ordered last_value window (one "
    "shuffle on the key; the distributed merge_asof)",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click")
    out = temporal.as_of_join(purchases, clicks, key="user_id", ts="ts", right_cols=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_value"),
        F.col("asof_ts_us"),
    )
"""
Note: ties at identical ts: both engines prefer the right row (ASOF uses
<=; the window orders right-before-left at equal ts).
"""


# --- hypertable-style gap fill + LOCF ---
# time_bucket → dense bucket spine (sequence/generate_series per group) →
# left join → last-observation-carried-forward via an IGNORE NULLS
# last_value window. The missing-interval repair every time-series store
# ships (timescale's time_bucket_gapfill + locf) expressed as three
# relational steps. At scale the spine explode is O(buckets) per group
# (no driver loop) and the window shuffles once on the group key.

from posting_lines_spark.queries.parity import dsum_expr  # noqa: E402

GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         {dsum_expr("value")} AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS bucket FROM bounds
),
joined AS (
  SELECT s.event_type, s.bucket,
         coalesce(o.n_events, 0) AS n_events,
         o.sum_value,
         o.n_events IS NULL AS is_gap
  FROM spine s LEFT JOIN obs o USING (event_type, bucket)
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_events AS BIGINT) AS n_events,
       last_value(sum_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       is_gap
FROM joined
"""


@register(
    "timeseries_gapfill",
    oracle=GAPFILL_ORACLE,
    description="hypertable gap fill: hourly time_bucket aggregate, dense "
    "bucket spine per event_type (sequence+explode), LOCF of the summed "
    "value through gaps via IGNORE NULLS last_value — the "
    "time_bucket_gapfill/locf repair as three relational steps; decimal-"
    "routed sums keep the carried values engine-exact",
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    obs = spark.sql(
        f"""
        SELECT event_type, unix_micros(ts) div 3600000000 AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               {dsum_expr("value")} AS sum_value
        FROM events GROUP BY 1, 2
        """
    )
    bounds = obs.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("bucket")
    )
    j = spine.join(obs, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("n_events").isNull().alias("is_gap"),
    )


RANGE_ORACLE = """
SELECT p.event_id AS purchase_id, e.event_id AS error_id,
       epoch_us(e.ts) - epoch_us(p.ts) AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON epoch_us(e.ts) >= epoch_us(p.ts) AND epoch_us(e.ts) < epoch_us(p.ts) + 300000000
"""


@register(
    "range_join",
    oracle=RANGE_ORACLE,
    description="range (interval) join via coarse-bucket equi-join + exact "
    "filter (SURVEY.md §2.3 extension): errors within 5 min after each "
    "purchase; bucket width bounds the candidate fanout at scale",
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    joined = temporal.range_join_bucketed(
        purchases, errors, "p_ts", "e_ts", lower_us=0, upper_us=300_000_000
    )
    return joined.select(
        "purchase_id",
        "error_id",
        (F.unix_micros("e_ts") - F.unix_micros("p_ts")).alias("delta_us"),
    )


# --- M4 time-series downsampling ---
# The canonical charting/downsampling operator (Jugel et al., VLDB'14):
# per (series, time bucket) keep min, max, first, and last — the four
# values that preserve a line chart's visual extremes at any zoom. Exact
# and deterministic: first/last use the repo's canonical tie-safe event
# order (µs, event_id) via row_number, never engine-specific arg_min.
# Scale shape: ONE window pass partitioned by (series, bucket) + one
# hash-aggregate on the same key — both shuffles share the key, and the
# bucket width is a fixed constant (6h), so no global-extent scan.

M4_BUCKET_US = 6 * 3600 * 1_000_000


def _m4_sql(us: str) -> str:
    return f"""
WITH e AS (
  SELECT event_type,
         value,
         CAST(({us}) {{idiv}} {M4_BUCKET_US} AS BIGINT) AS bucket,
         row_number() OVER (PARTITION BY event_type, CAST(({us}) {{idiv}} {M4_BUCKET_US} AS BIGINT)
                            ORDER BY {us}, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, CAST(({us}) {{idiv}} {M4_BUCKET_US} AS BIGINT)
                            ORDER BY {us} DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       min(value) AS v_min,
       max(value) AS v_max,
       max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
       max(CASE WHEN rn_d = 1 THEN value END) AS v_last
FROM e
GROUP BY event_type, bucket
"""


@register(
    "timeseries_m4_downsample",
    oracle=_m4_sql("epoch_us(ts)").replace("{idiv}", "//"),
    description="M4 time-series downsampling: per (series, 6h bucket) "
    "min/max/first/last — the extremes-preserving downsample charting "
    "systems use; tie-safe (µs, event_id) ordering via row_number, one "
    "window pass + one aggregate sharing the same shuffle key",
)
def timeseries_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_m4_sql("unix_micros(ts)").replace("{idiv}", "div"))


# --- linear-interpolation gap fill ---
# The interpolate() companion to LOCF above (timescale's
# time_bucket_gapfill + interpolate): a gap bucket takes the straight
# line between its nearest observed neighbors. Window math only — the
# bracketing observation (value, bucket) pairs come from IGNORE NULLS
# last_value/first_value over opposite frame directions; the same
# partition key serves all four windows, so Catalyst plans ONE exchange.
# Parity: the bracketing values are the decimal-routed bucket sums
# (engine-exact), the fraction is a ratio of integer-valued doubles, and
# the interpolation expression is the same IEEE op sequence on both
# engines — bit-identical without further routing. Gap buckets always
# have both brackets (the spine spans min..max observed per group).


def _interp_sql(bucket_expr: str, spine_fn, ig) -> str:
    """`ig(fn, expr)` renders the IGNORE NULLS call — Spark puts the
    clause after the parens, DuckDB inside them."""
    prev_val = ig("last_value", "sum_value")
    prev_b = ig("last_value", "CASE WHEN sum_value IS NOT NULL THEN bucket END")
    next_val = ig("first_value", "sum_value")
    next_b = ig("first_value", "CASE WHEN sum_value IS NOT NULL THEN bucket END")
    return f"""
WITH obs AS (
  SELECT event_type, {bucket_expr} AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         {dsum_expr("value")} AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
spine AS (
  SELECT event_type, {spine_fn} AS bucket FROM bounds
),
joined AS (
  SELECT s.event_type, s.bucket,
         coalesce(o.n_events, 0) AS n_events,
         o.sum_value,
         o.n_events IS NULL AS is_gap
  FROM spine s LEFT JOIN obs o ON s.event_type = o.event_type AND s.bucket = o.bucket
),
br AS (
  SELECT event_type, bucket, n_events, sum_value, is_gap,
         {prev_val} OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
         {prev_b} OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
         {next_val} OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
         {next_b} OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM joined
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN NOT is_gap THEN sum_value
            ELSE prev_val + (next_val - prev_val)
                 * (CAST(bucket - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))
       END AS interp_sum,
       is_gap
FROM br
"""


INTERP_ORACLE = _interp_sql(
    "epoch_us(ts) // 3600000000",
    "unnest(generate_series(lo, hi))",
    lambda fn, e: f"{fn}({e} IGNORE NULLS)",
)


@register(
    "timeseries_interpolate",
    oracle=INTERP_ORACLE,
    description="linear-interpolation gap fill (time_bucket_gapfill + "
    "interpolate): gap buckets take the straight line between their "
    "bracketing observations via IGNORE NULLS window scans in both "
    "directions — four windows, one exchange; decimal-routed bracket "
    "values keep the interpolation engine-exact",
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _interp_sql(
            "unix_micros(ts) div 3600000000",
            "explode(sequence(lo, hi))",
            lambda fn, e: f"{fn}({e}) IGNORE NULLS",
        )
    )


# --- classical seasonal decomposition (trend + seasonal + residual) ---
# The additive decomposition every time-series QA pass runs before
# anomaly detection: hourly event counts on a dense spine, trend =
# centered 25-hour moving average (complete windows only), seasonal =
# hour-of-day mean of the detrended series, residual = remainder.
# Engine-exactness: the series is INTEGER counts, so the detrended
# value is kept as the exact integer 25·n − window_sum ("dscaled");
# every aggregate sums integers (associative, order-free) and each
# output double is produced by a SINGLE correctly-rounded division or
# subtraction chain written identically on both engines — no decimal
# routing needed anywhere.
# Scale shape: one hourly pre-aggregate (map-side combinable), a spine
# explode that is O(hours) per series, ONE window pass partitioned by
# series, one tiny hour-of-day aggregate (24 rows/series) joined back
# broadcast. No global window, no driver loop.

SEASONAL_WIN = 12  # ±12 h → 25-hour centered window

SEASONAL_ORACLE = f"""
WITH obs AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket FROM bounds),
dense AS (
  SELECT s.event_type, s.bucket, coalesce(o.n, 0) AS n
  FROM spine s LEFT JOIN obs o USING (event_type, bucket)
),
win AS (
  SELECT event_type, bucket, n,
         sum(n) OVER w AS win_sum,
         count(*) OVER w AS win_cnt
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN {SEASONAL_WIN} PRECEDING AND {SEASONAL_WIN} FOLLOWING)
),
det AS (
  SELECT event_type, bucket, n, win_sum,
         {2 * SEASONAL_WIN + 1} * n - win_sum AS dscaled,
         bucket % 24 AS hod
  FROM win WHERE win_cnt = {2 * SEASONAL_WIN + 1}
),
season AS (
  SELECT event_type, hod,
         CAST(sum(dscaled) AS BIGINT) AS s_num,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM det GROUP BY 1, 2
)
SELECT d.event_type, CAST(d.bucket AS BIGINT) AS bucket,
       CAST(d.n AS BIGINT) AS n_events,
       CAST(d.win_sum AS DOUBLE) / {2 * SEASONAL_WIN + 1}.0e0 AS trend,
       CAST(s.s_num AS DOUBLE) / ({2 * SEASONAL_WIN + 1}.0e0 * s.s_cnt) AS seasonal,
       (CAST(d.n AS DOUBLE) - CAST(d.win_sum AS DOUBLE) / {2 * SEASONAL_WIN + 1}.0e0)
         - CAST(s.s_num AS DOUBLE) / ({2 * SEASONAL_WIN + 1}.0e0 * s.s_cnt) AS residual
FROM det d JOIN season s ON s.event_type = d.event_type AND s.hod = d.hod
"""


@register(
    "timeseries_seasonal_decompose",
    oracle=SEASONAL_ORACLE,
    description="additive seasonal decomposition of hourly event counts: "
    "dense spine, centered 25-h moving-average trend (complete windows "
    "only), hour-of-day seasonal means of the detrended series, residual; "
    "all-integer internals (25·n − window_sum) so both engines agree "
    "bit-for-bit with no decimal routing; one window pass + one tiny "
    "seasonal aggregate joined back (broadcast at scale)",
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    width = 2 * SEASONAL_WIN + 1
    obs = spark.sql(
        """SELECT event_type, unix_micros(ts) div 3600000000 AS bucket,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2"""
    )
    bounds = obs.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = bounds.select("event_type", F.explode(F.sequence("lo", "hi")).alias("bucket"))
    dense = spine.join(obs, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-SEASONAL_WIN, SEASONAL_WIN)
    )
    det = (
        dense.select(
            "event_type",
            "bucket",
            "n",
            F.sum("n").over(w).alias("win_sum"),
            F.count(F.lit(1)).over(w).alias("win_cnt"),
        )
        .filter(F.col("win_cnt") == width)
        .select(
            "event_type",
            "bucket",
            "n",
            "win_sum",
            (F.lit(width) * F.col("n") - F.col("win_sum")).alias("dscaled"),
            (F.col("bucket") % 24).alias("hod"),
        )
    )
    season = det.groupBy("event_type", "hod").agg(
        F.sum("dscaled").cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    trend = F.col("win_sum").cast("double") / F.lit(float(width))
    seasonal = F.col("s_num").cast("double") / (F.lit(float(width)) * F.col("s_cnt"))
    return (
        det.join(F.broadcast(season), ["event_type", "hod"])
        .select(
            "event_type",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n_events"),
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            ((F.col("n").cast("double") - trend) - seasonal).alias("residual"),
        )
    )


# --- CUSUM change-point detection ---
# Where did the level of a series shift? CUSUM over hourly event counts:
# C_t = Σ_{i≤t} (n_i − mean); the change-point estimate is argmax |C_t|
# (the classic at-most-one-change estimator). Engine-exactness: with N
# buckets and T total events, N·C_t = N·prefix_t − t·T is an EXACT
# integer — the argmax, tie-broken by earliest bucket, is integer
# comparison; only the reported cusum value pays one final division.
# Scale shape: hourly pre-aggregate, dense spine, ONE per-series window
# cumsum + per-series argmax window — all partitioned by event_type.

CUSUM_SPARK_TS = "unix_micros(ts) div 3600000000"
CUSUM_DUCK_TS = "epoch_us(ts) // 3600000000"


def _cusum_sql(bucket_expr: str) -> str:
    return f"""
WITH obs AS (
  SELECT event_type, {bucket_expr} AS bucket, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
spine AS (SELECT event_type, {{SPINE}} AS bucket FROM bounds),
dense AS (
  SELECT s.event_type, s.bucket, coalesce(o.n, 0) AS n
  FROM spine s LEFT JOIN obs o USING (event_type, bucket)
),
pre AS (
  SELECT event_type, bucket, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS prefix_n,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS t
  FROM dense
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(n) AS BIGINT) AS n_total
  FROM dense GROUP BY event_type
),
scaled AS (
  SELECT p.event_type, p.bucket, p.t, t.n_buckets, t.n_total,
         t.n_buckets * p.prefix_n - p.t * t.n_total AS c_scaled
  FROM pre p JOIN tot t ON t.event_type = p.event_type
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(c_scaled) DESC, bucket ASC) AS rn
  FROM scaled
)
SELECT event_type,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(bucket AS BIGINT) AS change_bucket,
       CAST(t AS BIGINT) AS t_at_change,
       CAST(c_scaled AS DOUBLE) / n_buckets AS cusum_at_change,
       CASE WHEN c_scaled > 0 THEN 'up_then_down'
            WHEN c_scaled < 0 THEN 'down_then_up'
            ELSE 'flat' END AS shift_shape
FROM best WHERE rn = 1
"""


CUSUM_ORACLE = _cusum_sql(CUSUM_DUCK_TS).replace(
    "{SPINE}", "unnest(generate_series(lo, hi))"
)


@register(
    "timeseries_changepoint_cusum",
    oracle=CUSUM_ORACLE,
    description="CUSUM at-most-one-change detection per event series: "
    "argmax |Σ(nᵢ−mean)| over the dense hourly series, computed as the "
    "EXACT integer N·prefix−t·T (tie → earliest bucket) so the located "
    "change-point is engine-exact; one per-series window cumsum + one "
    "per-series argmax window, both partitioned by event_type",
)
def timeseries_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _cusum_sql(CUSUM_SPARK_TS).replace("{SPINE}", "explode(sequence(lo, hi))")
    )


# --- Holt double exponential smoothing (level + trend) ---
# The trend-aware big sibling of timeseries_ewma: per event type, fold
#   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
#   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
# over the day-ordered decimal-routed daily means, seeded (l₁=y₁, b₁=0).
# Spark folds the 2-field state as a named_struct accumulator in the
# aggregate() HOF; the DuckDB oracle MUST NOT (DuckDB 1.0's list_reduce
# mutates multi-field struct accumulators in place — see
# _holt_oracle_sql) and steps the identical recurrence text through a
# recursive CTE instead. l_t recomputes once inside b_t's expression on
# both engines (same IEEE ops → same value), so the doubles chain is
# engine-exact like the EWMA twin. Forecast_next = l + b is the
# one-step-ahead readout.
#
# Scale: identical to timeseries_ewma — one (type, day) aggregate with
# map-side combine, then a per-type fold whose state is bounded by the
# CALENDAR (days), not data volume; 5 output rows.

HOLT_ALPHA = 0.5
HOLT_BETA = 0.3


def _holt_sql(epoch_us: str, collect_series: str, fold: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         {collect_series} AS vs
  FROM daily
  GROUP BY event_type
),
folded AS (
  SELECT event_type, n_days, {fold} AS st
  FROM series
)
SELECT event_type, n_days,
       st.l AS level, st.b AS trend,
       st.l + st.b AS forecast_next
FROM folded
"""


_HOLT_NEWL_SPARK = f"{HOLT_ALPHA!r}e0 * x + {1 - HOLT_ALPHA!r}e0 * (acc.l + acc.b)"

_HOLT_FOLD_SPARK = (
    "aggregate(slice(vs, 2, size(vs) - 1), "
    "named_struct('l', element_at(vs, 1), 'b', CAST(0 AS DOUBLE)), "
    f"(acc, x) -> named_struct('l', CAST({_HOLT_NEWL_SPARK} AS DOUBLE), "
    f"'b', CAST({HOLT_BETA!r}e0 * (({_HOLT_NEWL_SPARK}) - acc.l) "
    f"+ {1 - HOLT_BETA!r}e0 * acc.b AS DOUBLE)))"
)

_HOLT_SERIES_SPARK = "transform(array_sort(collect_list(struct(day, v))), s -> s.v)"
_HOLT_SERIES_DUCK = "list(v ORDER BY day)"


def _holt_oracle_sql() -> str:
    # DuckDB 1.0's list_reduce MUTATES a multi-field struct accumulator in
    # place while evaluating the lambda's field expressions (a probe field
    # 'lp': acc.l returns the NEW l), so the struct fold used on the Spark
    # side is mis-evaluated there (adjudicated in round-5 VERDICT.md; the
    # 1-field EWMA fold is immune). The oracle therefore steps the IDENTICAL
    # recurrence text through a recursive CTE — one row per (event_type,
    # step), each step reading only the PREVIOUS row's (l, b) — where no
    # in-place mutation is possible. ~30 steps x 5 types, trivial at oracle
    # scale. new_l is recomputed inside the b expression exactly as on the
    # Spark side (same IEEE ops -> same doubles).
    from posting_lines_spark.queries.parity import davg_expr

    day = "CAST(floor(epoch_us(ts) / 86400000000.0e0) AS BIGINT)"
    a, one_a = f"{HOLT_ALPHA!r}e0", f"{1 - HOLT_ALPHA!r}e0"
    bt, one_bt = f"{HOLT_BETA!r}e0", f"{1 - HOLT_BETA!r}e0"
    new_l = f"{a} * vs[i + 1] + {one_a} * (l + b)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         {_HOLT_SERIES_DUCK} AS vs
  FROM daily
  GROUP BY event_type
),
steps AS (
  SELECT event_type, n_days, vs,
         CAST(1 AS BIGINT) AS i,
         CAST(vs[1] AS DOUBLE) AS l,
         CAST(0 AS DOUBLE) AS b
  FROM series
  UNION ALL
  SELECT event_type, n_days, vs, i + 1,
         CAST({new_l} AS DOUBLE),
         CAST({bt} * (({new_l}) - l) + {one_bt} * b AS DOUBLE)
  FROM steps
  WHERE i < n_days
)
SELECT event_type, n_days, l AS level, b AS trend,
       l + b AS forecast_next
FROM steps
WHERE i = n_days
"""


@register(
    "timeseries_holt",
    oracle=_holt_oracle_sql(),
    description=f"Holt double exponential smoothing (α={HOLT_ALPHA}, "
    f"β={HOLT_BETA}) per event type: level+trend recurrence folded over "
    "the day-ordered decimal-routed daily means with a struct "
    "accumulator, seeded (l₁=y₁, b₁=0); identical recurrence text on "
    "both engines → engine-exact doubles; one-step forecast = l + b; "
    "fold state bounded by the calendar",
)
def timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _holt_sql("unix_micros(ts)", _HOLT_SERIES_SPARK, _HOLT_FOLD_SPARK)
    )


# --- autocorrelation function (ACF) at lags 1..3 per event type ---
# The diagnostic that decides between the EWMA and Holt smoothers above:
# per event type, Pearson autocorrelation of the day-ordered
# decimal-routed daily means at lags 1, 2, 3 —
#   r_k = Σ_{t≤n−k}(y_t−ȳ)(y_{t+k}−ȳ) / Σ_t(y_t−ȳ)².
# ȳ is the decimal-exact series mean; deviations and products are a
# fixed shared-text double chain, and BOTH sums are decimal-routed, so
# r_k is bit-identical across engines (per-row rounding estimate:
# ~90 products of magnitude ≤1e4 at scale 6 → ≪1 expected
# disagreements; see queries/parity.py).
# Scale: one (type, day) aggregate with map-side combine, then
# windows/joins partitioned by event_type whose state is bounded by the
# CALENDAR — the lag join matches series positions i and i+k, 5 types ×
# ~30 days × 3 lags.

ACF_LAGS = (1, 2, 3)


def _acf_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr, dsum_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    lags = " UNION ALL ".join(f"SELECT {k} AS lag" for k in ACF_LAGS)
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         {davg_expr("v")} AS mu
  FROM idx GROUP BY event_type
),
den AS (
  SELECT x.event_type,
         {dsum_expr("(x.v - s.mu) * (x.v - s.mu)")} AS ss
  FROM idx x JOIN stats s ON s.event_type = x.event_type
  GROUP BY x.event_type
),
lags AS ({lags}),
num AS (
  SELECT a.event_type, l.lag,
         {dsum_expr("(a.v - s.mu) * (b.v - s.mu)")} AS sp
  FROM idx a
  CROSS JOIN lags l
  JOIN idx b ON b.event_type = a.event_type AND b.i = a.i + l.lag
  JOIN stats s ON s.event_type = a.event_type
  GROUP BY a.event_type, l.lag
)
SELECT n.event_type, CAST(n.lag AS INT) AS lag, s.n_days,
       n.sp / d.ss AS acf
FROM num n
JOIN den d ON d.event_type = n.event_type
JOIN stats s ON s.event_type = n.event_type
"""


@register(
    "timeseries_autocorr",
    oracle=_acf_sql("epoch_us(ts)"),
    description=f"autocorrelation function at lags {ACF_LAGS} per event "
    "type over the day-ordered decimal-routed daily means: decimal-exact "
    "series mean, fixed shared-text deviation products, BOTH sums "
    "decimal-routed — bit-identical r_k across engines; the smoother-"
    "selection diagnostic for the EWMA/Holt family; per-type state "
    "bounded by the calendar",
)
def timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_acf_sql("unix_micros(ts)"))


# --- Theil-Sen robust trend (median of pairwise slopes) ---
# The outlier-robust sibling of the OLS line in stats_regression: per
# event type, slope = median over all i<j of (v_j − v_i)/(j − i) on the
# day-ordered decimal-routed daily means, then intercept = median of
# (v_i − slope·i). One contaminated day moves OLS arbitrarily but
# shifts a median by at most one order statistic — the estimator a
# drift monitor wants. Each slope is ONE double division of
# engine-exact inputs; median interpolates (a+b)/2 identically on both
# engines (both sort the same doubles), and the intercept residuals
# reuse the shared-text slope value — bit-identical across engines.
#
# Scale: the pair join is per-type and CALENDAR-bounded (n days →
# n(n−1)/2 pairs, ~435 at n=30 — independent of row volume; the daily
# aggregate underneath has map-side combine). The per-type window in
# the index step is calendar-bounded state, the sanctioned exception
# to the no-single-partition-window rule.


def _theilsen_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
  FROM daily
),
slopes AS (
  SELECT a.event_type,
         (b.v - a.v) / (CAST(b.i AS DOUBLE) - CAST(a.i AS DOUBLE)) AS s
  FROM idx a
  JOIN idx b ON b.event_type = a.event_type AND b.i > a.i
),
sl AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         median(s) AS slope
  FROM slopes
  GROUP BY event_type
),
ic AS (
  SELECT x.event_type,
         median(x.v - sl.slope * CAST(x.i AS DOUBLE)) AS intercept
  FROM idx x JOIN sl ON sl.event_type = x.event_type
  GROUP BY x.event_type
)
SELECT sl.event_type, sl.n_pairs, sl.slope, ic.intercept
FROM sl JOIN ic ON ic.event_type = sl.event_type
"""


@register(
    "timeseries_theilsen_slope",
    oracle=_theilsen_sql("epoch_us(ts)"),
    description="Theil-Sen robust trend per event type: median of all "
    "pairwise slopes over the day-ordered decimal-routed daily means, "
    "intercept = median residual at the shared-text slope — each slope "
    "one double division of engine-exact inputs, medians interpolate "
    "identically — bit-identical across engines; the pair join is "
    "calendar-bounded (n(n−1)/2 pairs per type, independent of row "
    "volume); the outlier-robust sibling of stats_regression",
)
def timeseries_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_theilsen_sql("unix_micros(ts)"))


# --- Hampel filter (rolling-median/MAD outlier detection) ---
# The robust twin of anomaly_zscore on the time axis: per event type,
# each day's value is compared against the median of its ±3-day
# neighborhood, scaled by the neighborhood MAD (median absolute
# deviation, ×1.4826 ≈ σ under normality); a day is flagged when
# |v − med| > 3·1.4826·MAD. Flag by direct comparison — no division,
# so an all-equal window (MAD = 0) degrades to "any deviation flags"
# rather than a NaN. Both neighborhood medians come from the same
# calendar-bounded index self-join (rolling median isn't a portable
# window aggregate; the join IS the frame), and medians/abs/products
# are engine-identical doubles — bit-identical across engines.
#
# Scale: daily aggregate with map-side combine, then two per-type
# joins over calendar-bounded series (≤ 7 neighbors per day) — cost
# independent of event volume.

HAMPEL_HALF_WIN = 3
HAMPEL_NSIGMA = "3.0e0"
HAMPEL_MAD_K = "1.4826e0"


def _hampel_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    h = HAMPEL_HALF_WIN
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, day, v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
  FROM daily
),
med AS (
  SELECT a.event_type, a.day, a.i, a.v,
         median(b.v) AS med,
         CAST(count(*) AS BIGINT) AS n_win
  FROM idx a
  JOIN idx b ON b.event_type = a.event_type
            AND b.i >= a.i - {h} AND b.i <= a.i + {h}
  GROUP BY a.event_type, a.day, a.i, a.v
),
mad AS (
  SELECT m.event_type, m.day, m.v, m.med, m.n_win,
         median(abs(b.v - m.med)) AS mad
  FROM med m
  JOIN idx b ON b.event_type = m.event_type
            AND b.i >= m.i - {h} AND b.i <= m.i + {h}
  GROUP BY m.event_type, m.day, m.v, m.med, m.n_win
)
SELECT event_type, day, v, med, mad, n_win
FROM mad
WHERE abs(v - med) > {HAMPEL_NSIGMA} * {HAMPEL_MAD_K} * mad
"""


@register(
    "timeseries_hampel_outliers",
    oracle=_hampel_sql("epoch_us(ts)"),
    description=f"Hampel rolling-median/MAD outlier filter per event "
    f"type (±{HAMPEL_HALF_WIN}-day neighborhood, 3·1.4826·MAD "
    "threshold) over decimal-routed daily means: neighborhood median "
    "and MAD from calendar-bounded index self-joins, flag by direct "
    "comparison (no division — MAD=0 degrades gracefully) — "
    "bit-identical across engines; cost independent of event volume; "
    "the robust time-axis twin of anomaly_zscore",
)
def timeseries_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hampel_sql("unix_micros(ts)"))


# --- Holt-Winters additive triple exponential smoothing (m=7) ---
# Completes the smoother ladder (EWMA → Holt → Holt-Winters): per event
# type, level + trend + WEEKLY additive seasonality over the
# day-ordered decimal-routed daily means,
#   l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
#   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
#   s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}
# with the standard simple seeding: l_m = mean(y₁..y_m) as a literal
# 7-term sum (fixed order, identical text both engines), b_m =
# (mean(y_{m+1}..y_{2m}) − l_m)/m, s_i = y_i − l_m. The Spark side
# folds a (l, b, seasonal-ring) struct through aggregate(); the DuckDB
# oracle must not (the round-5 list_reduce in-place-mutation bug —
# multi-field struct accumulators are unsafe there) and steps the
# IDENTICAL recurrence text through a recursive CTE carrying the ring
# as a LIST column. l_t recomputes inside b_t and s_t exactly as on
# the Spark side (same IEEE ops → same doubles). Forecast_next =
# l + b + s_{t+1−m}.
#
# Scale: same as Holt — one (type, day) aggregate with map-side
# combine; fold state is (2 + m) doubles bounded by the SEASON length,
# never data volume; 5 output rows.

HW_ALPHA, HW_BETA, HW_GAMMA = 0.4, 0.2, 0.3
HW_PERIOD = 7


def _hw_texts(idx):
    """Recurrence texts shared by both engines; `idx(arr, k)` renders
    1-based array indexing in the target dialect."""
    a, one_a = f"{HW_ALPHA!r}e0", f"{1 - HW_ALPHA!r}e0"
    bt, one_bt = f"{HW_BETA!r}e0", f"{1 - HW_BETA!r}e0"
    g, one_g = f"{HW_GAMMA!r}e0", f"{1 - HW_GAMMA!r}e0"
    m = HW_PERIOD
    l0 = "(" + " + ".join(idx("vs", k) for k in range(1, m + 1)) + f") / {float(m)!r}e0"
    l1 = (
        "(" + " + ".join(idx("vs", k) for k in range(m + 1, 2 * m + 1))
        + f") / {float(m)!r}e0"
    )
    b0 = f"(({l1}) - ({l0})) / {float(m)!r}e0"
    return a, one_a, bt, one_bt, g, one_g, l0, b0


def _hw_spark_fold() -> str:
    a, one_a, bt, one_bt, g, one_g, l0, b0 = _hw_texts(
        lambda arr, k: f"element_at({arr}, {k})"
    )
    m = HW_PERIOD
    seed_s = (
        "transform(slice(vs, 1, "
        f"{m}), y -> CAST(y - ({l0}) AS DOUBLE))"
    )
    new_l = f"{a} * (x - element_at(acc.s, 1)) + {one_a} * (acc.l + acc.b)"
    new_s = f"{g} * (x - ({new_l})) + {one_g} * element_at(acc.s, 1)"
    return (
        f"aggregate(slice(vs, {2 * m + 1}, size(vs) - {2 * m}), "
        f"named_struct('l', CAST({l0} AS DOUBLE), 'b', CAST({b0} AS DOUBLE), "
        f"'s', {seed_s}), "
        f"(acc, x) -> named_struct("
        f"'l', CAST({new_l} AS DOUBLE), "
        f"'b', CAST({bt} * (({new_l}) - acc.l) + {one_bt} * acc.b AS DOUBLE), "
        f"'s', concat(slice(acc.s, 2, {m - 1}), array(CAST({new_s} AS DOUBLE)))))"
    )


def _hw_sql_spark() -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = "CAST(floor(unix_micros(ts) / 86400000000.0e0) AS BIGINT)"
    fold = _hw_spark_fold()
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         transform(array_sort(collect_list(struct(day, v))), s -> s.v) AS vs
  FROM daily
  GROUP BY event_type
  HAVING count(*) >= {2 * HW_PERIOD}
),
folded AS (
  SELECT event_type, n_days, {fold} AS st
  FROM series
)
SELECT event_type, n_days,
       st.l AS level, st.b AS trend,
       st.l + st.b + element_at(st.s, 1) AS forecast_next
FROM folded
"""


def _hw_oracle_sql() -> str:
    from posting_lines_spark.queries.parity import davg_expr

    a, one_a, bt, one_bt, g, one_g, l0, b0 = _hw_texts(
        lambda arr, k: f"{arr}[{k}]"
    )
    m = HW_PERIOD
    day = "CAST(floor(epoch_us(ts) / 86400000000.0e0) AS BIGINT)"
    seed_s = (
        "list_transform(vs[1:" + str(m) + "], y -> CAST(y - (" + l0 + ") AS DOUBLE))"
    )
    new_l = f"{a} * (vs[i + 1] - s[1]) + {one_a} * (l + b)"
    new_s = f"{g} * (vs[i + 1] - ({new_l})) + {one_g} * s[1]"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         list(v ORDER BY day) AS vs
  FROM daily
  GROUP BY event_type
  HAVING count(*) >= {2 * m}
),
steps AS (
  SELECT event_type, n_days, vs,
         CAST({2 * m} AS BIGINT) AS i,
         CAST({l0} AS DOUBLE) AS l,
         CAST({b0} AS DOUBLE) AS b,
         {seed_s} AS s
  FROM series
  UNION ALL
  SELECT event_type, n_days, vs, i + 1,
         CAST({new_l} AS DOUBLE),
         CAST({bt} * (({new_l}) - l) + {one_bt} * b AS DOUBLE),
         list_concat(s[2:{m}], [CAST({new_s} AS DOUBLE)])
  FROM steps
  WHERE i < n_days
)
SELECT event_type, n_days, l AS level, b AS trend,
       l + b + s[1] AS forecast_next
FROM steps
WHERE i = n_days
"""


@register(
    "timeseries_holt_winters",
    oracle=_hw_oracle_sql(),
    description=f"Holt-Winters additive triple exponential smoothing "
    f"(α={HW_ALPHA}, β={HW_BETA}, γ={HW_GAMMA}, weekly m={HW_PERIOD}) "
    "per event type: level+trend+seasonal-ring recurrence folded over "
    "the day-ordered decimal-routed daily means with literal-sum "
    "seeding; identical recurrence text on both engines (Spark struct "
    "fold vs recursive CTE — the list_reduce multi-field bug makes the "
    "fold unsafe on DuckDB) → engine-exact doubles; fold state bounded "
    "by the season length; completes the EWMA → Holt ladder",
)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hw_sql_spark())


# --- SAX symbolic discretization (z-normalize → PAA → alphabet) ---
# The compression step that turns a numeric daily series into a short
# symbol string for motif/anomaly mining at corpus scale (Lin et al.'s
# Symbolic Aggregate approXimation): per event type, z-normalize the
# day-ordered decimal-routed daily means with the series' own
# population mean/std (decimal-exact sufficient statistics, one shared
# double chain), average into SAX_W equal-occupancy PAA segments
# (segment of index i = floor((i−1)·w/n) — the standard frame
# assignment, exact integers), and map each segment mean to one of 5
# symbols at the Gaussian quintile breakpoints (±0.8416, ±0.2533 —
# literal constants). Segment means are decimal-routed (order-free);
# breakpoint comparisons on engine-identical doubles — the symbol
# string is bit-identical across engines.
#
# Scale: daily aggregate with map-side combine; everything after is
# calendar-bounded per-type state; output 5 rows of ≤ SAX_W chars.

SAX_W = 6
_SAX_BREAKS = ("-0.8416212335729142e0", "-0.2533471031357997e0",
               "0.2533471031357997e0", "0.8416212335729142e0")
_SAX_ALPHABET = ("a", "b", "c", "d", "e")


def _sax_symbol_case(col: str) -> str:
    cases = []
    for k, brk in enumerate(_SAX_BREAKS):
        cases.append(f"WHEN {col} < {brk} THEN '{_SAX_ALPHABET[k]}'")
    return "CASE " + " ".join(cases) + f" ELSE '{_SAX_ALPHABET[-1]}' END"


def _sax_sql(epoch_us: str, string_agg: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr, dsum_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
  FROM daily
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {dsum_expr("v")} AS sx, {dsum_expr("v * v")} AS sxx
  FROM idx GROUP BY event_type
),
z AS (
  SELECT x.event_type, s.n,
         (x.v - s.sx / CAST(s.n AS DOUBLE))
           / sqrt(s.sxx / CAST(s.n AS DOUBLE)
                  - (s.sx / CAST(s.n AS DOUBLE)) * (s.sx / CAST(s.n AS DOUBLE))) AS zv,
         CAST(floor(CAST((x.i - 1) * {SAX_W} AS DOUBLE) / CAST(s.n AS DOUBLE)) AS BIGINT) AS seg
  FROM idx x JOIN stats s ON s.event_type = x.event_type
),
paa AS (
  SELECT event_type, n, seg, {davg_expr("zv")} AS segmean
  FROM z
  GROUP BY event_type, n, seg
),
sym AS (
  SELECT event_type, n, seg, segmean,
         {_sax_symbol_case("segmean")} AS sym
  FROM paa
)
SELECT event_type, n AS n_days, {string_agg} AS sax
FROM sym
GROUP BY event_type, n
"""


@register(
    "timeseries_sax_symbols",
    oracle=_sax_sql("epoch_us(ts)", "string_agg(sym, '' ORDER BY seg)"),
    description=f"SAX symbolic discretization per event type "
    f"(z-normalize → {SAX_W}-segment PAA → 5-letter Gaussian-breakpoint "
    "alphabet) over the day-ordered decimal-routed daily means: "
    "decimal-exact moments, shared-text z chain, decimal-routed "
    "segment means, literal breakpoints — the symbol string is "
    "bit-identical across engines; calendar-bounded per-type state; "
    "the series→string compressor for motif mining at corpus scale",
)
def timeseries_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _sax_sql(
            "unix_micros(ts)",
            "array_join(transform(array_sort(collect_list(struct(seg, sym))),"
            " s -> s.sym), '')",
        )
    )


# --- dynamic time warping distance (daily series vs 'click' reference) ---
# The alignment-tolerant series distance the Euclidean/SAX family can't
# express: DTW(a, b) = min-cost monotone alignment, the classic DP
#   dp[i][j] = |a_i − b_j| + min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1])
# over each event type's day-ordered decimal-routed daily means against
# the 'click' series. Both engines step the IDENTICAL recurrence in the
# IDENTICAL cell order (row-major), each cell one abs-diff add + a
# 3-way min of engine-exact doubles — bit-identical, no float-sum
# reordering anywhere. The execution shapes differ by design:
#   Spark — one whole-stage-codegen expression: an outer aggregate()
#   fold over a's elements whose state is the previous DP ROW, with an
#   inner aggregate() over column indices building the new row
#   left-to-right (no UDF, no driver loop);
#   DuckDB oracle — a single-row-per-type recursive CTE walking cells
#   row-major with a sliding WINDOW of the last m+2 dp values as LIST
#   state (dp[i−1][j−1], dp[i−1][j], dp[i][j−1] sit at fixed window
#   positions 1, 2, m+2; a leading dummy keeps the window length
#   constant from the seed row).
# The ∞ sentinel is 1.0e18: one cost add keeps it far from overflow and
# min() discards it on every feasible path.
#
# Scale: the DP is CALENDAR² -bounded (~30×30 cells/type regardless of
# row volume) — the sanctioned shape for per-group sequence algorithms;
# the daily aggregate underneath has map-side combine. For data-shaped
# series (per-user sequences), the same fold runs per group under a
# (user)-keyed aggregate; cells must stay bounded (banding) — noted in
# SCALE.md.

DTW_REF_TYPE = "click"
_DTW_INF = "CAST(1.0e18 AS DOUBLE)"


def _dtw_series_sql(epoch_us: str, series_agg: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
ser AS (
  SELECT event_type, {series_agg} AS a, CAST(count(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
ref AS (SELECT a AS b, n AS m FROM ser WHERE event_type = '{DTW_REF_TYPE}'),
pair AS (
  SELECT s.event_type, s.a, s.n, r.b, r.m FROM ser s CROSS JOIN ref r
)"""


def _dtw_spark_sql() -> str:
    series = (
        "transform(array_sort(collect_list(struct(day, v))), s -> s.v)"
    )
    inf = _DTW_INF
    return f"""
WITH {_dtw_series_sql("unix_micros(ts)", series)}
SELECT event_type, n AS n_days, m AS m_days,
       element_at(
         aggregate(
           a,
           concat(array(CAST(0.0e0 AS DOUBLE)), transform(b, x -> {inf})),
           (prev, av) -> aggregate(
             sequence(1L, m),
             array({inf}),
             (nr, j) -> concat(nr, array(
               abs(av - element_at(b, CAST(j AS INT)))
               + least(element_at(prev, CAST(j AS INT) + 1),
                       element_at(nr, CAST(j AS INT)),
                       element_at(prev, CAST(j AS INT)))))
           )
         ),
         CAST(m AS INT) + 1
       ) AS dtw
FROM pair
"""


def _dtw_oracle_sql() -> str:
    inf = _DTW_INF
    return f"""
WITH RECURSIVE {_dtw_series_sql("epoch_us(ts)", "list(v ORDER BY day)")},
dp AS (
  SELECT event_type, a, n, b, m, CAST(m + 1 AS BIGINT) AS p,
         [{inf}, CAST(0.0e0 AS DOUBLE)]
           || list_transform(b, x -> {inf}) AS w
  FROM pair
  UNION ALL
  SELECT event_type, a, n, b, m, p + 1 AS p,
         w[2:] || [CASE WHEN p % (m + 1) = 0 THEN {inf}
                   ELSE abs(a[p // (m + 1)] - b[p % (m + 1)])
                        + least(w[1], w[2], w[m + 2]) END] AS w
  FROM dp WHERE p < (n + 1) * (m + 1)
)
SELECT event_type, n AS n_days, m AS m_days, w[m + 2] AS dtw
FROM dp WHERE p = (n + 1) * (m + 1)
"""


@register(
    "timeseries_dtw",
    oracle=_dtw_oracle_sql(),
    description="dynamic time warping distance of each event type's "
    "day-ordered decimal-routed daily series against the 'click' "
    "reference: both engines step the identical row-major DP recurrence "
    "(Spark — nested aggregate() fold, whole-stage codegen, no UDF; "
    "oracle — sliding-window recursive CTE with LIST state), each cell "
    "one abs-add + 3-way min of engine-exact doubles — bit-identical; "
    "calendar²-bounded cells per type",
)
def timeseries_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dtw_spark_sql())


# --- motif discovery (closest non-overlapping z-normalized window pair) ---
# The matrix-profile primitive (Yeh et al. 2016) at calendar scale: per
# event type, over the day-ordered decimal-routed daily means, find the
# pair of NON-OVERLAPPING length-MOTIF_W windows minimizing z-normalized
# Euclidean distance — the "repeated shape" (motif) a monitoring
# pipeline keys on. Each window is z-normalized by its OWN population
# mean/sd; windows with sd=0 (flat) are excluded deterministically.
# Parity: window sums are LEFT FOLDS seeded 0.0 in index order on both
# engines (the dot_duck idiom), the distance fold likewise — every
# double op identical — and the argmin tie-breaks by the packed integer
# i·1000+j on exact-equal distances. Bit-identical across engines.
#
# Scale: windows and pairs are CALENDAR-bounded (~24 windows, ~150
# pairs per type at n≈30 regardless of row volume); the daily aggregate
# has map-side combine. For data-shaped per-entity series the same
# shape runs under an entity-keyed aggregate with banded pairs.

MOTIF_W = 7


def _motif_sql(epoch_us: str, series_agg: str, wins_cte: str, zdist: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    w = MOTIF_W
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
ser AS (
  SELECT event_type, {series_agg} AS a, CAST(count(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
{wins_cte},
ws AS (
  SELECT event_type, i, w, sx / {w}.0e0 AS m,
         sqrt(sxx / {w}.0e0 - (sx / {w}.0e0) * (sx / {w}.0e0)) AS s
  FROM wsum
),
pd AS (
  SELECT a.event_type, a.i AS ia, b.i AS ib, {zdist} AS dist
  FROM ws a JOIN ws b
    ON b.event_type = a.event_type AND b.i >= a.i + {w}
  WHERE a.s > 0.0e0 AND b.s > 0.0e0
),
mn AS (SELECT event_type, min(dist) AS md FROM pd GROUP BY event_type),
pick AS (
  SELECT p.event_type, CAST(min(p.ia * 1000 + p.ib) AS BIGINT) AS pk,
         min(p.dist) AS dist
  FROM pd p JOIN mn m ON m.event_type = p.event_type AND p.dist = m.md
  GROUP BY p.event_type
)
SELECT event_type,
       CAST((pk - pk % 1000) / 1000.0e0 AS INT) AS i,
       CAST(pk % 1000 AS INT) AS j,
       dist
FROM pick
"""


_MOTIF_WINS_SPARK = f"""wins0 AS (
  SELECT event_type, n, a, i FROM ser
  LATERAL VIEW explode(sequence(1, CAST(n - {MOTIF_W} + 1 AS INT))) t AS i
  WHERE n >= {MOTIF_W}
),
wins1 AS (
  SELECT event_type, i, slice(a, CAST(i AS INT), {MOTIF_W}) AS w FROM wins0
),
wsum AS (
  SELECT event_type, i, w,
         aggregate(w, CAST(0.0e0 AS DOUBLE), (acc, x) -> acc + x) AS sx,
         aggregate(w, CAST(0.0e0 AS DOUBLE), (acc, x) -> acc + x * x) AS sxx
  FROM wins1
)"""

_MOTIF_WINS_DUCK = f"""wins0 AS (
  SELECT event_type, a, unnest(range(1, CAST(n - {MOTIF_W} + 2 AS BIGINT))) AS i
  FROM ser WHERE n >= {MOTIF_W}
),
wins1 AS (
  SELECT event_type, i, list_slice(a, i, i + {MOTIF_W} - 1) AS w FROM wins0
),
wsum AS (
  SELECT event_type, i, w,
         list_reduce(list_prepend(CAST(0.0e0 AS DOUBLE), w),
                     (acc, x) -> acc + x) AS sx,
         list_reduce(list_prepend(CAST(0.0e0 AS DOUBLE),
                     list_transform(w, x -> x * x)),
                     (acc, x) -> acc + x) AS sxx
  FROM wins1
)"""

_MOTIF_ZDIST_SPARK = (
    "aggregate(zip_with(a.w, b.w, (x, y) ->"
    " ((x - a.m) / a.s - (y - b.m) / b.s)"
    " * ((x - a.m) / a.s - (y - b.m) / b.s)),"
    " CAST(0.0e0 AS DOUBLE), (acc, v) -> acc + v)"
)

_MOTIF_ZDIST_DUCK = (
    "list_reduce(list_prepend(CAST(0.0e0 AS DOUBLE),"
    " list_transform(list_zip(a.w, b.w), p ->"
    " ((p[1] - a.m) / a.s - (p[2] - b.m) / b.s)"
    " * ((p[1] - a.m) / a.s - (p[2] - b.m) / b.s))),"
    " (acc, v) -> acc + v)"
)


@register(
    "timeseries_motif_discovery",
    oracle=_motif_sql(
        "epoch_us(ts)", "list(v ORDER BY day)", _MOTIF_WINS_DUCK, _MOTIF_ZDIST_DUCK
    ),
    description=f"motif discovery per event type: closest non-"
    f"overlapping z-normalized length-{MOTIF_W} window pair over the "
    "day-ordered decimal-routed daily means (the matrix-profile "
    "primitive at calendar scale): seeded left-fold window sums and "
    "distance folds in identical index order on both engines, packed-"
    "integer argmin tie-break — bit-identical; calendar-bounded windows "
    "and pairs",
)
def timeseries_motif_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _motif_sql(
            "unix_micros(ts)",
            "transform(array_sort(collect_list(struct(day, v))), s -> s.v)",
            _MOTIF_WINS_SPARK,
            _MOTIF_ZDIST_SPARK,
        )
    )


# --- Kalman local-level filter (random walk + observation noise) ---
# The probabilistic sibling of timeseries_holt: the local-level model
# y_t = l_t + ε (var R), l_t = l_{t-1} + η (var Q) filtered exactly:
#   K_t = (P_{t-1} + Q) / (P_{t-1} + Q + R)
#   l_t = l_{t-1} + K_t · (y_t − l_{t-1})
#   P_t = (1 − K_t) · (P_{t-1} + Q)
# folded over the day-ordered decimal-routed daily means, seeded
# (l₁ = y₁, P₁ = P0). The steady-state gain it converges to is the EWMA
# α the ewma/holt queries assume — this query DERIVES the smoothing
# constant the others take as given. Spark folds the (l, p) struct with
# aggregate(); the oracle must not (DuckDB 1.0 list_reduce mutates
# multi-field struct accumulators in place — the timeseries_holt
# lesson) and steps the IDENTICAL recurrence text through a recursive
# CTE. The gain subexpression recomputes inside each field (same IEEE
# ops → same doubles on both engines).
#
# Scale: identical to holt/ewma — one (type, day) aggregate with
# map-side combine, then a per-type fold whose state is bounded by the
# CALENDAR, not data volume; 5 output rows.

KALMAN_Q = 0.04  # state-transition variance
KALMAN_R = 1.0   # observation variance
KALMAN_P0 = 1.0  # prior variance at the seed


def _kalman_sql(epoch_us: str, collect_series: str, fold: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    q, r = f"{KALMAN_Q!r}e0", f"{KALMAN_R!r}e0"
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    gain_next = f"((st.p + {q}) / (st.p + {q} + {r}))"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         {collect_series} AS vs
  FROM daily
  GROUP BY event_type
),
folded AS (
  SELECT event_type, n_days, {fold} AS st
  FROM series
)
SELECT event_type, n_days,
       st.l AS level, st.p AS p_var,
       {gain_next} AS gain_next,
       st.l AS forecast_next
FROM folded
"""


def _kalman_gain(prev_p: str) -> str:
    q, r = f"{KALMAN_Q!r}e0", f"{KALMAN_R!r}e0"
    return f"(({prev_p} + {q}) / ({prev_p} + {q} + {r}))"


_KALMAN_FOLD_SPARK = (
    "aggregate(slice(vs, 2, size(vs) - 1), "
    f"named_struct('l', element_at(vs, 1), 'p', CAST({KALMAN_P0!r}e0 AS DOUBLE)), "
    f"(acc, x) -> named_struct("
    f"'l', CAST(acc.l + {_kalman_gain('acc.p')} * (x - acc.l) AS DOUBLE), "
    f"'p', CAST((1.0e0 - {_kalman_gain('acc.p')}) * (acc.p + {KALMAN_Q!r}e0) AS DOUBLE)))"
)


def _kalman_oracle_sql() -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = "CAST(floor(epoch_us(ts) / 86400000000.0e0) AS BIGINT)"
    q = f"{KALMAN_Q!r}e0"
    gain = _kalman_gain("p")
    # recursive-CTE restatement of the identical recurrence text (the
    # DuckDB list_reduce struct-mutation bug — see timeseries_holt)
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         {_HOLT_SERIES_DUCK} AS vs
  FROM daily
  GROUP BY event_type
),
steps AS (
  SELECT event_type, n_days, vs,
         CAST(1 AS BIGINT) AS i,
         CAST(vs[1] AS DOUBLE) AS l,
         CAST({KALMAN_P0!r}e0 AS DOUBLE) AS p
  FROM series
  UNION ALL
  SELECT event_type, n_days, vs, i + 1,
         CAST(l + {gain} * (vs[i + 1] - l) AS DOUBLE),
         CAST((1.0e0 - {gain}) * (p + {q}) AS DOUBLE)
  FROM steps
  WHERE i < n_days
)
SELECT event_type, n_days, l AS level, p AS p_var,
       ((p + {q}) / (p + {q} + {KALMAN_R!r}e0)) AS gain_next,
       l AS forecast_next
FROM steps
WHERE i = n_days
"""


@register(
    "timeseries_kalman_level",
    oracle=_kalman_oracle_sql(),
    description=f"Kalman local-level filter (Q={KALMAN_Q}, R={KALMAN_R}) "
    "per event type: gain/level/variance recurrence folded over the "
    "day-ordered decimal-routed daily means with a struct accumulator; "
    "oracle steps the identical recurrence through a recursive CTE "
    "(list_reduce struct-mutation bug, the timeseries_holt lesson); "
    "derives the steady-state gain the EWMA family assumes; fold state "
    "bounded by the calendar",
)
def timeseries_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _kalman_sql("unix_micros(ts)", _HOLT_SERIES_SPARK, _KALMAN_FOLD_SPARK)
    )


# --- lagged cross-correlation between two event-type series ---
# The lead-lag diagnostic: Pearson correlation between the daily VIEW
# count and the daily PURCHASE count shifted by lag ℓ ∈ [−7, +7] — a
# positive-lag peak means views lead purchases by ℓ days (the marketing
# attribution / demand-forecast primitive next to timeseries_autocorr,
# which is its self-join special case). Daily counts are INTEGERS, so
# every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) is an exact
# BIGINT and the correlation is one fixed-text IEEE chain (products
# stay ≪ 2^53 for daily counts below ~10⁷; switch the sums to DECIMAL
# beyond that). Missing days simply do not pair — identical semantics
# on both engines.
#
# Scale: one (day) conditional aggregate with map-side combine
# (calendar-bounded output), then a 15-lag × calendar-bounded self-join
# — cost independent of row volume beyond the first scan.

XCORR_LAGS = 7


def _xcorr_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    lags = " UNION ALL ".join(
        f"SELECT {k} AS lag" for k in range(-XCORR_LAGS, XCORR_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT {day} AS day,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
),
lags AS ({lags}),
pairs AS (
  SELECT l.lag, a.x, b.y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag
),
agg AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, n AS n_days,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0e0) AS xcorr
FROM agg
"""


@register(
    "timeseries_cross_correlation",
    oracle=_xcorr_sql("epoch_us(ts)"),
    description=f"lagged cross-correlation (±{XCORR_LAGS} days) between "
    "the daily view and purchase count series: one calendar-bounded "
    "conditional aggregate, a 15-lag calendar-bounded self-join, every "
    "sufficient statistic an exact BIGINT, final Pearson one fixed-text "
    "IEEE chain — the lead-lag sibling of timeseries_autocorr",
)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_xcorr_sql("unix_micros(ts)"))


# --- Mann-Kendall trend test (significance for Theil-Sen) ---
# timeseries_theilsen_slope gives the robust slope; Mann-Kendall gives
# its SIGNIFICANCE: S = Σ_{i<j} sign(v_j − v_i) over the day-ordered
# decimal-routed daily means, with the tie-corrected variance
#   18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
# (t = size of each tied-value group) and the continuity-corrected
#   z = (S∓1)/√Var(S).
# S, n, and the 18-scaled variance are EXACT BIGINTs (ties are exact
# equality of decimal-exact values — identical grouping on both
# engines); z is one fixed-text IEEE chain. The Kendall-tau machinery
# applied to TIME (stats_kendall_tau ranks two metrics against each
# other; this tests one series against its own order).
#
# Scale: the pair join is per-type and CALENDAR-bounded (n(n−1)/2 at
# n≈30 — constant as data scales); the tie groups are a (type, value)
# aggregate over n rows.


def _mann_kendall_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
  FROM daily
),
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM idx a
  JOIN idx b ON b.event_type = a.event_type AND b.i > a.i
  GROUP BY a.event_type
),
nn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM idx GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
  FROM (
    SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
    FROM idx GROUP BY event_type, v
  ) g
  WHERE t > 1
  GROUP BY event_type
)
SELECT s.event_type, nn.n AS n_days, s.s_stat,
       nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(t.tie18, 0) AS var18,
       CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
            WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
            ELSE 0e0 END
         / nullif(sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                            - coalesce(t.tie18, 0) AS DOUBLE) / 18.0e0),
                  0e0) AS z_mk
FROM s
JOIN nn ON nn.event_type = s.event_type
LEFT JOIN ties t ON t.event_type = s.event_type
"""


@register(
    "timeseries_mann_kendall",
    oracle=_mann_kendall_sql("epoch_us(ts)"),
    description="Mann-Kendall trend test over the day-ordered decimal-"
    "routed daily means — the significance companion to "
    "timeseries_theilsen_slope: S and the tie-corrected 18-scaled "
    "variance are exact BIGINTs, continuity-corrected z one fixed-text "
    "IEEE chain; the pair join is calendar-bounded (constant in rows)",
)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mann_kendall_sql("unix_micros(ts)"))


# --- Bollinger-band breakout detection (all-integer) ---
# The classic volatility-band monitor over daily cents totals: a point
# breaks out when it leaves mean ± 2σ of its trailing 7-day window.
# The entire test is EXACT INTEGER arithmetic — no sqrt, no floats:
# with window sums S = Σx, Q = Σx² over n days,
#   x > mean + 2σ  ⟺  d := n·x − S > 0  AND  d² > 4·(n·Q − S²)
#   x < mean − 2σ  ⟺  d < 0             AND  d² > 4·(n·Q − S²)
# (multiply the band inequality by n and square; σ is the population σ
# of the window). Squares route through DECIMAL(38,0): daily totals up
# to ~1e15 cents keep n·Q ≤ 7e31 and d² ≤ 2e32, both well inside the
# 38-digit (≈1e38) headroom. Both engines compare identical decimals,
# so the breakout flags are bit-identical by construction.
#
# Scale: one (type, day) aggregate with map-side combine, then a
# 7-row window per type over the CALENDAR-BOUNDED daily table and one
# k-row count aggregate — constant cost in raw rows, like Theil-Sen.

BOLL_W = 7  # trailing window length in days


def _bollinger_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    d19 = "DECIMAL(19,0)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY 1, 2
),
win AS (
  SELECT event_type, day, x,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS s,
         sum(CAST(x AS {d19}) * CAST(x AS {d19})) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {BOLL_W - 1} PRECEDING AND CURRENT ROW)
),
flags AS (
  SELECT event_type,
         CAST(n AS {d19}) * x - s AS d,
         CAST(CAST(n AS {d19}) * x - s AS DECIMAL(38,0))
           * CAST(CAST(n AS {d19}) * x - s AS DECIMAL(38,0)) AS d2,
         4 * (CAST(n AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))
              - CAST(s AS {d19}) * CAST(s AS {d19})) AS band4
  FROM win
  WHERE n = {BOLL_W}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN d > 0 AND d2 > band4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breakout_up,
       CAST(sum(CASE WHEN d < 0 AND d2 > band4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breakout_down
FROM flags
GROUP BY event_type
"""


@register(
    "timeseries_bollinger_breakouts",
    oracle=_bollinger_sql("epoch_us(ts)"),
    description=f"Bollinger mean±2σ breakout counts over trailing "
    f"{BOLL_W}-day windows of daily cents totals, ENTIRELY in exact "
    "integer/decimal arithmetic (band test squared and scaled by n — "
    "no sqrt, no floats, bit-identical flags by construction); "
    "calendar-bounded window over the daily table, full windows only",
)
def timeseries_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bollinger_sql("unix_micros(ts)"))


# --- partial autocorrelation (PACF) via unrolled Durbin-Levinson ---
# The AR-order selection companion to timeseries_autocorr: PACF at lag
# k is the correlation of y_t and y_{t−k} after regressing out lags
# 1..k−1 — computed from the ACF by the Durbin-Levinson recursion. The
# recursion is depth-CONSTANT (3 lags), so it unrolls into one fixed
# shared-text expression chain over the bit-identical r_k values:
#   φ11 = r1
#   φ22 = (r2 − r1²) / (1 − r1²);       φ21 = φ11 − φ22·φ11
#   φ33 = (r3 − φ21·r2 − φ22·r1) / (1 − φ21·r1 − φ22·r2)
# — the ESD/Holt iteration-unroll discipline applied to a linear-algebra
# recursion; denominators nullif-guarded (a perfectly correlated series
# has 1 − r1² = 0 → NULL on both engines).
#
# Scale: identical to timeseries_autocorr (its CTEs are reused
# verbatim): one (type, day) aggregate, calendar-bounded lag joins,
# then k-row-per-type scalar math.


def _pacf_sql(epoch_us: str) -> str:
    return f"""
WITH acf AS ({_acf_sql(epoch_us)}),
piv AS (
  SELECT event_type, max(n_days) AS n_days,
         max(CASE WHEN lag = 1 THEN acf END) AS r1,
         max(CASE WHEN lag = 2 THEN acf END) AS r2,
         max(CASE WHEN lag = 3 THEN acf END) AS r3
  FROM acf GROUP BY event_type
),
l2 AS (
  SELECT event_type, n_days, r1, r2, r3,
         (r2 - r1 * r1) / nullif(1.0e0 - r1 * r1, 0e0) AS phi22
  FROM piv
),
l3 AS (
  SELECT event_type, n_days, r1, r2, r3, phi22,
         r1 - phi22 * r1 AS phi21
  FROM l2
)
SELECT event_type, n_days,
       r1 AS pacf1,
       phi22 AS pacf2,
       (r3 - phi21 * r2 - phi22 * r1)
         / nullif(1.0e0 - phi21 * r1 - phi22 * r2, 0e0) AS pacf3
FROM l3
"""


@register(
    "timeseries_pacf_durbin",
    oracle=_pacf_sql("epoch_us(ts)"),
    description="partial autocorrelation at lags 1-3 via the Durbin-"
    "Levinson recursion UNROLLED over its constant depth (the ESD/Holt "
    "iteration discipline applied to linear algebra): reuses the "
    "bit-identical ACF chain, fixed shared-text φ expressions, "
    "nullif-guarded denominators; the AR-order selection diagnostic",
)
def timeseries_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_pacf_sql("unix_micros(ts)"))


# --- as-of NEAREST join (pandas merge_asof direction='nearest') ---
# asof_join gives the latest PRIOR context row; sensor/feature
# pipelines just as often want the temporally NEAREST row in either
# direction within a tolerance. Clicks are first deduped to one row
# per (user, instant) — earliest event_id wins — so "nearest" is
# unambiguous; the tiebreak at equal distance prefers the earlier
# (backward) row, matching merge_asof.
#
# Engine formulation: ONE shuffle on the user key — union the two
# streams, order by (ts, side, event_id), and take last-prior /
# first-following click structs with IGNORE NULLS frame windows; the
# nearer of the two (≤ tolerance) is a fixed integer comparison.
# Oracle formulation (independent shape): tolerance-bounded inequality
# join + row_number argmin per purchase. At 100 TB the window form
# never materializes candidate pairs; the oracle's pair fanout is
# oracle-scale-only.

ASOF_NEAR_TOL_US = 3_600_000_000  # 1 hour


def _asof_nearest_oracle() -> str:
    return f"""
WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
r0 AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS dd
  FROM events WHERE event_type = 'click'
),
r AS (SELECT user_id, ts, event_id, value FROM r0 WHERE dd = 1),
cand AS (
  SELECT l.event_id, r.value, epoch_us(r.ts) AS r_ts_us,
         abs(epoch_us(l.ts) - epoch_us(r.ts)) AS ad,
         row_number() OVER (
           PARTITION BY l.event_id
           ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)), r.ts, r.event_id
         ) AS rk
  FROM l JOIN r ON r.user_id = l.user_id
   AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= {ASOF_NEAR_TOL_US}
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       c.value AS near_value, c.r_ts_us AS near_ts_us,
       c.ad AS near_dist_us
FROM l LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c
  ON c.event_id = l.event_id
"""


@register(
    "asof_join_nearest",
    oracle=_asof_nearest_oracle(),
    description=f"nearest-direction as-of join (merge_asof nearest, "
    f"tolerance {ASOF_NEAR_TOL_US // 1_000_000} s): one shuffle on the "
    "user key via union + ordered IGNORE-NULLS prev/next struct "
    "windows (no candidate-pair materialization at scale); clicks "
    "deduped per instant; backward row wins distance ties; oracle = "
    "independent tolerance-join + argmin formulation",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    clicks0 = e.filter(F.col("event_type") == "click")
    dd = W.partitionBy("user_id", "ts").orderBy("event_id")
    clicks = (
        clicks0.withColumn("dd", F.row_number().over(dd))
        .filter(F.col("dd") == 1)
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            "event_id",
            "value",
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id", "value"
    )
    u = clicks.unionByName(purchases)
    ord_w = W.partitionBy("user_id").orderBy("ts", "side", "event_id")
    click_struct = F.when(
        F.col("side") == 0,
        F.struct(F.unix_micros("ts").alias("ts_us"), F.col("value").alias("v")),
    )
    prev_w = ord_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    next_w = ord_w.rowsBetween(W.currentRow, W.unboundedFollowing)
    res = (
        u.withColumn("prev_c", F.last(click_struct, ignorenulls=True).over(prev_w))
        .withColumn("next_c", F.first(click_struct, ignorenulls=True).over(next_w))
        .filter(F.col("side") == 1)
    )
    lts = F.unix_micros("ts")
    prev_ad = lts - F.col("prev_c.ts_us")
    next_ad = F.col("next_c.ts_us") - lts
    pick_prev = F.col("prev_c").isNotNull() & (
        F.col("next_c").isNull() | (prev_ad <= next_ad)
    )
    chosen = F.when(pick_prev, F.col("prev_c")).otherwise(F.col("next_c"))
    ad = F.abs(lts - F.col("chosen.ts_us"))
    return (
        res.withColumn("chosen", chosen)
        .withColumn(
            "chosen",
            F.when(ad <= F.lit(ASOF_NEAR_TOL_US), F.col("chosen")),
        )
        .select(
            "event_id",
            "user_id",
            lts.alias("ts_us"),
            F.col("chosen.v").alias("near_value"),
            F.col("chosen.ts_us").alias("near_ts_us"),
            F.abs(lts - F.col("chosen.ts_us")).alias("near_dist_us"),
        )
    )


# --- seasonality-aware anomaly flags (3σ on the decompose residual) ---
# anomaly_zscore/mad flag raw outliers and therefore re-flag every
# daily peak; the production monitor removes trend + seasonality FIRST
# and thresholds the RESIDUAL. Composes timeseries_seasonal_decompose
# verbatim (its residuals are already bit-identical doubles on both
# engines: all-integer internals, one fixed division chain), then one
# decimal-routed moment pass per type for σ and a broadcast-back flag
# pass for |r| > 3σ. Output is type-bounded counts — exact integers.
#
# Scale: the decompose's own envelope (hourly pre-aggregate + one
# series-partitioned window + 24-row seasonal join) plus two k-row
# aggregates; the σ table is type-bounded and broadcast.

ANOM_SEAS_K = 3  # σ multiplier


def _anomaly_seasonal_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    mean = "(sr / CAST(nh AS DOUBLE))"
    return f"""
WITH decomp AS ({SEASONAL_ORACLE}),
mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nh,
         {dsum_expr("residual")} AS sr,
         {dsum_expr("residual * residual")} AS srr
  FROM decomp GROUP BY event_type
),
sig AS (
  SELECT event_type, nh,
         sqrt(srr / CAST(nh AS DOUBLE) - {mean} * {mean}) AS sigma
  FROM mom
)
SELECT d.event_type,
       s.nh AS n_hours,
       s.sigma,
       CAST(sum(CASE WHEN abs(d.residual) > {ANOM_SEAS_K}.0e0 * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       max(abs(d.residual)) AS max_abs_residual
FROM decomp d JOIN sig s ON s.event_type = d.event_type
GROUP BY d.event_type, s.nh, s.sigma
"""


@register(
    "anomaly_seasonal_residual",
    oracle=_anomaly_seasonal_sql(),
    description=f"seasonality-aware anomaly flags: "
    f"{ANOM_SEAS_K}σ threshold on the seasonal-decompose RESIDUAL "
    "(trend and hour-of-day effects removed first — daily peaks no "
    "longer false-positive); residuals are bit-identical by the "
    "decompose's all-integer construction, σ decimal-routed, flags "
    "exact integer counts; type-bounded σ table broadcast back",
)
def anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.queries import REGISTRY
    from posting_lines_spark.queries.parity import dsum_expr

    decomp = REGISTRY["timeseries_seasonal_decompose"].fn(spark, sf_dir)
    decomp.createOrReplaceTempView("pls_anom_decomp")
    mean = "(sr / CAST(nh AS DOUBLE))"
    return spark.sql(
        f"""
WITH mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nh,
         {dsum_expr("residual")} AS sr,
         {dsum_expr("residual * residual")} AS srr
  FROM pls_anom_decomp GROUP BY event_type
),
sig AS (
  SELECT event_type, nh,
         sqrt(srr / CAST(nh AS DOUBLE) - {mean} * {mean}) AS sigma
  FROM mom
)
SELECT d.event_type,
       s.nh AS n_hours,
       s.sigma,
       CAST(sum(CASE WHEN abs(d.residual) > {ANOM_SEAS_K}.0e0 * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       max(abs(d.residual)) AS max_abs_residual
FROM pls_anom_decomp d JOIN sig s ON s.event_type = d.event_type
GROUP BY d.event_type, s.nh, s.sigma
"""
    )


# --- Ljung-Box portmanteau test (is the series white noise?) ---
# The significance companion to timeseries_autocorr/pacf: tests all
# ACF_LAGS lags JOINTLY —  Q = n(n+2)·Σ_k r_k²/(n−k), χ²(h) under the
# white-noise null. Reuses the bit-identical ACF chain verbatim; the
# Q assembly is one k-row fixed shared-text expression per type.
# Scale: exactly the ACF envelope.


def _ljung_box_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    nd = "CAST(max(n_days) AS DOUBLE)"
    return f"""
WITH acf AS ({_acf_sql(epoch_us)}),
terms AS (
  SELECT event_type, n_days,
         acf * acf / nullif(CAST(n_days AS DOUBLE) - CAST(lag AS DOUBLE), 0e0)
           AS t
  FROM acf
)
SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS h_lags,
       {nd} * ({nd} + 2.0e0) * {dsum_expr("t", 12)} AS q_stat
FROM terms
GROUP BY event_type
"""


@register(
    "timeseries_ljung_box",
    oracle=_ljung_box_sql("epoch_us(ts)"),
    description="Ljung-Box portmanteau test over the first 3 ACF lags "
    "per type (Q = n(n+2)·Σ r²/(n−k), χ²(3) under white noise): "
    "reuses the bit-identical decimal-routed ACF chain; the joint-"
    "significance companion to autocorr/pacf; calendar-bounded",
)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ljung_box_sql("unix_micros(ts)"))


# --- turning-points randomness test per event type ---
# The classic nonparametric check that a series is not random noise
# (Kendall 1973): over the day-ordered daily EVENT-COUNT series, an
# interior day is a turning point iff it is a STRICT local max or min
# (ties with either neighbor do not turn). For an i.i.d. series,
#   E[T] = 2(n−2)/3,  Var[T] = (16n−29)/90,
# and z = (T − E)/√Var is asymptotically N(0,1) — |z| large means the
# series has structure (trend or oscillation) worth modeling with the
# ACF/Holt family above. Counts are exact integers end-to-end; the
# z-score is one fixed shared-text double chain per type.
#
# Scale: one (type, day) count aggregate (map-side combinable), one
# calendar-bounded per-type window for the neighbor compares, one
# k-row finish (k = |event types|).


def _turning_points_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, CAST(count(*) AS BIGINT) AS c
  FROM events
  GROUP BY event_type, {day}
),
nb AS (
  SELECT event_type, c,
         lag(c)  OVER (PARTITION BY event_type ORDER BY day) AS p,
         lead(c) OVER (PARTITION BY event_type ORDER BY day) AS f
  FROM daily
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN p IS NOT NULL AND f IS NOT NULL
                        AND ((c > p AND c > f) OR (c < p AND c < f))
                       THEN 1 ELSE 0 END) AS BIGINT) AS t_obs
  FROM nb GROUP BY event_type
)
SELECT event_type, n_days, t_obs,
       2.0e0 * (CAST(n_days AS DOUBLE) - 2.0e0) / 3.0e0 AS t_expected,
       (16.0e0 * CAST(n_days AS DOUBLE) - 29.0e0) / 90.0e0 AS t_variance,
       (CAST(t_obs AS DOUBLE)
          - 2.0e0 * (CAST(n_days AS DOUBLE) - 2.0e0) / 3.0e0)
         / nullif(sqrt((16.0e0 * CAST(n_days AS DOUBLE) - 29.0e0) / 90.0e0),
                  0e0) AS z
FROM agg
"""


@register(
    "timeseries_turning_points",
    oracle=_turning_points_sql("epoch_us(ts)"),
    description="turning-points randomness test per event type over the "
    "daily event-count series: strict local extrema counted in exact "
    "integers, E[T]=2(n-2)/3 and Var[T]=(16n-29)/90 in one fixed "
    "shared-text double chain — the cheap is-there-structure screen "
    "before fitting the ACF/Holt family; calendar-bounded per-type "
    "window state",
)
def timeseries_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_turning_points_sql("unix_micros(ts)"))


# --- Lo–MacKinlay variance-ratio test per event type ---
# Is the daily revenue series a random walk? Over the day-INDEXED
# daily cents-total series x_i (i = 1..n by row_number — gaps in the
# calendar are treated as consecutive observations, stated convention):
# with μ̂ = (x_n − x_1)/(n−1) the per-step drift,
#   VR(q) = [Σ_{i>q}(x_i − x_{i−q} − qμ̂)² / (q·(n−q))]
#         / [Σ_{i>1}(x_i − x_{i−1} −  μ̂)² / (n−1)],
# and under the homoskedastic null z = (VR−1)/√(2(2q−1)(q−1)/(3q·n))
# is N(0,1) (Lo & MacKinlay 1988). Each deviation square expands to
# Σd² − 2μ̂q·Σd + m·(μ̂q)² with Σd, Σd² EXACT integer sums of cents
# diffs (DECIMAL(19,0)-routed products, VARCHAR final cast), so both
# engines finish from identical integers through one fixed double
# chain — no per-row double aggregation anywhere.
#
# Scale: one (type, day) cents aggregate, two calendar-bounded
# per-type self-joins at offsets 1 and q, a k-row finish.

VR_Q = 5


def _variance_ratio_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    d19 = "DECIMAL(19,0)"
    dd = f"CAST(b.x - a.x AS {d19})"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
ends AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(min_by(x, i) AS BIGINT) AS x1,
         CAST(max_by(x, i) AS BIGINT) AS xn
  FROM idx GROUP BY event_type
),
d1 AS (
  SELECT a.event_type,
         CAST(count(*) AS BIGINT) AS m1,
         CAST(CAST(sum({dd}) AS STRING) AS DOUBLE) AS s1,
         CAST(CAST(sum({dd} * {dd}) AS STRING) AS DOUBLE) AS s1_sq
  FROM idx a JOIN idx b
    ON b.event_type = a.event_type AND b.i = a.i + 1
  GROUP BY a.event_type
),
dq AS (
  SELECT a.event_type,
         CAST(count(*) AS BIGINT) AS mq,
         CAST(CAST(sum({dd}) AS STRING) AS DOUBLE) AS sq,
         CAST(CAST(sum({dd} * {dd}) AS STRING) AS DOUBLE) AS sq_sq
  FROM idx a JOIN idx b
    ON b.event_type = a.event_type AND b.i = a.i + {VR_Q}
  GROUP BY a.event_type
),
fin AS (
  SELECT e.event_type, e.n,
         (CAST(e.xn AS DOUBLE) - CAST(e.x1 AS DOUBLE))
           / (CAST(e.n AS DOUBLE) - 1.0e0) AS mu,
         d1.m1, d1.s1, d1.s1_sq, dq.mq, dq.sq, dq.sq_sq
  FROM ends e
  JOIN d1 ON d1.event_type = e.event_type
  JOIN dq ON dq.event_type = e.event_type
),
vr AS (
  SELECT event_type, n, mu,
         (s1_sq - 2.0e0 * mu * s1 + CAST(m1 AS DOUBLE) * mu * mu)
           / CAST(m1 AS DOUBLE) AS var1,
         (sq_sq - 2.0e0 * ({VR_Q}.0e0 * mu) * sq
            + CAST(mq AS DOUBLE) * ({VR_Q}.0e0 * mu) * ({VR_Q}.0e0 * mu))
           / ({VR_Q}.0e0 * CAST(mq AS DOUBLE)) AS varq
  FROM fin
)
SELECT event_type, n AS n_days, CAST({VR_Q} AS INT) AS q,
       varq / nullif(var1, 0e0) AS vr,
       (varq / nullif(var1, 0e0) - 1.0e0)
         / nullif(sqrt(2.0e0 * (2.0e0 * {VR_Q}.0e0 - 1.0e0)
                       * ({VR_Q}.0e0 - 1.0e0)
                       / (3.0e0 * {VR_Q}.0e0 * CAST(n AS DOUBLE))), 0e0)
         AS z
FROM vr
"""


@register(
    "timeseries_variance_ratio",
    oracle=_variance_ratio_sql("epoch_us(ts)"),
    description=f"Lo-MacKinlay variance-ratio test (q={VR_Q}) per event "
    "type over the day-indexed daily cents-total series: deviation "
    "squares expanded so every data-touching sum is an EXACT integer "
    "(DECIMAL(19,0)-routed diff products, VARCHAR final cast), then "
    "one fixed double chain for VR and the homoskedastic z — the "
    "random-walk screen for revenue series; calendar-bounded per-type "
    "offset self-joins",
)
def timeseries_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_variance_ratio_sql("unix_micros(ts)"))


# --- fixed-period periodogram (seasonality power at 7/14/30 days) ---
# Direct DFT power at the CALENDAR periods a pipeline cares about:
#   I(p) = (C_p² + S_p²)/n,  C_p = Σ(x_t−x̄)·cos(2πt/p),
#                             S_p = Σ(x_t−x̄)·sin(2πt/p),
# over the day-offset daily cents series (t = day − min_day keeps true
# weekly phase; gaps are real calendar gaps). Engine-native trig is
# libm-dependent, so the angles go through the repo's deterministic
# sin/cos kernels (functions/geo.py — the Albers Horner polynomials)
# after an EXACT integer quadrant reduction: r = t mod p, q =
# ⌊4r/p⌋ ∈ {0..3}, u = (π/2)·(4r − qp)/p ∈ [0, π/2) — kernel domain —
# with the (q-dependent) sign/swap selecting cos/sin. Per-row products
# are decimal-routed at scale 2 (daily totals reach ~1e9 cents at
# sf10; the parity.py magnitude rule caps the usable scale — envelope
# re-checked at sf0.1 in the oracle sweep).
#
# Scale: one (type, day) aggregate, |periods| literal fan-out over the
# calendar-bounded series, one k×|periods| finish.

PERIODOGRAM_PERIODS = (7, 14, 30)


def _periodogram_sql(epoch_us: str) -> str:
    import math

    from posting_lines_spark.functions.geo import dcos_sql, dlit, dsin_sql
    from posting_lines_spark.queries.parity import dsum_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    periods = " UNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS p" for p in PERIODOGRAM_PERIODS
    )
    half_pi = dlit(math.pi / 2.0)
    c, s = dcos_sql("u"), dsin_sql("u")
    cos_t = (
        f"CASE q WHEN 0 THEN {c} WHEN 1 THEN -{s} "
        f"WHEN 2 THEN -{c} ELSE {s} END"
    )
    sin_t = (
        f"CASE q WHEN 0 THEN {s} WHEN 1 THEN {c} "
        f"WHEN 2 THEN -{s} ELSE -{c} END"
    )
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY event_type, {day}
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(min(day) AS BIGINT) AS d0
  FROM daily GROUP BY event_type
),
base AS (
  SELECT d.event_type, d.x, d.day - s.d0 AS t, s.n, s.sx
  FROM daily d JOIN stats s ON s.event_type = d.event_type
),
ang0 AS (
  SELECT b.event_type, b.x, b.n, b.sx, pr.p,
         b.t % pr.p AS r
  FROM base b CROSS JOIN ({periods}) pr
),
ang1 AS (
  SELECT event_type, x, n, sx, p,
         CAST(floor(CAST(4 * r AS DOUBLE) / CAST(p AS DOUBLE)) AS BIGINT) AS q,
         4 * r AS r4
  FROM ang0
),
ang AS (
  SELECT event_type, x, n, sx, p, q,
         {half_pi} * (CAST(r4 - q * p AS DOUBLE) / CAST(p AS DOUBLE)) AS u
  FROM ang1
),
terms AS (
  SELECT event_type, p, n,
         (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * ({cos_t}) AS xc,
         (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * ({sin_t}) AS xs
  FROM ang
),
sums AS (
  SELECT event_type, p, CAST(max(n) AS BIGINT) AS n,
         {dsum_expr("xc", 2)} AS c,
         {dsum_expr("xs", 2)} AS s
  FROM terms GROUP BY event_type, p
)
SELECT event_type, p AS period_days, n AS n_days,
       (c * c + s * s) / CAST(n AS DOUBLE) AS power
FROM sums
"""


@register(
    "timeseries_periodogram",
    oracle=_periodogram_sql("epoch_us(ts)"),
    description=f"direct-DFT periodogram power at {PERIODOGRAM_PERIODS}"
    "-day calendar periods per event type: exact integer quadrant "
    "reduction (r = t mod p, q = ⌊4r/p⌋) feeds the deterministic "
    "sin/cos Horner kernels — no libm anywhere — mean-centered daily "
    "cents products decimal-routed at the magnitude-safe scale; the "
    "seasonality screen that says which period Holt-Winters should "
    "use; calendar-bounded per-type fan-out of |periods|",
)
def timeseries_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_periodogram_sql("unix_micros(ts)"))


# --- Hurst exponent via rescaled-range (R/S) analysis ---
# Long-range dependence: H ≈ 0.5 random walk, H > 0.5 persistent,
# H < 0.5 mean-reverting. Per event type, the day-indexed daily cents
# series is cut into FULL blocks of s ∈ {8, 16, 32, 64} days; per
# block the cumulative-deviation range is EXACT in integers
# (W_t·s = s·cumsum(x) − t·Σx — no rational mean anywhere), the std
# is one sqrt of exact-integer moments (IEEE sqrt is correctly
# rounded on both engines), and per-(type, s) mean R/S is decimal-
# routed. ln(R/S) then rides the INTEGER-ln kernel via quantization:
# ln(x) = dln(round(x·1e9)) − dln(1e9) — both args exact integers,
# perturbation ≤ 1e-9/x, deterministic on both engines (the trick
# that unlocks ln of positive DOUBLES for this repo's kernel). H is
# the OLS slope of ln(R/S) on ln(s) over the |S|-bounded point set,
# folded in s order.
#
# Scale: one (type, day) aggregate, calendar-bounded block windows,
# an |S|×k-bounded ln stack + fold — nothing data-shaped after the
# first aggregate.

HURST_WINDOWS = (8, 16, 32, 64)
_HURST_Q = 1_000_000_000


def _hurst_fold(which: str, col: str) -> str:
    if which == "spark":
        return (
            f"aggregate(transform(array_sort(collect_list(struct(s, {col}))), "
            f"t -> t.{col}), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list({col} ORDER BY s)), (acc, v) -> acc + v)"
    )


def _hurst_sql(epoch_us: str, which: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    wins = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS s" for s in HURST_WINDOWS
    )
    layers, last = dln_int_cte_layers(
        [("lq", "lr"), (f"CAST({_HURST_Q} AS BIGINT)", "lc"), ("s", "ls")],
        "lnin",
        "hl",
    )
    fold = lambda c: _hurst_fold(which, c)  # noqa: E731
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY event_type, {day}
),
idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
  FROM daily
),
blk AS (
  SELECT b.event_type, b.x, w.s,
         CAST(floor(CAST(b.i AS DOUBLE) / CAST(w.s AS DOUBLE)) AS BIGINT) AS b,
         row_number() OVER (PARTITION BY b.event_type, w.s,
            CAST(floor(CAST(b.i AS DOUBLE) / CAST(w.s AS DOUBLE)) AS BIGINT)
            ORDER BY b.i) AS t,
         CAST(sum(b.x) OVER (PARTITION BY b.event_type, w.s,
            CAST(floor(CAST(b.i AS DOUBLE) / CAST(w.s AS DOUBLE)) AS BIGINT)
            ORDER BY b.i ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cx
  FROM idx b CROSS JOIN ({wins}) w
),
bstat AS (
  SELECT event_type, s, b,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS sxx
  FROM blk GROUP BY event_type, s, b
),
wdev AS (
  SELECT k.event_type, k.s, k.b,
         CAST(max(k.s * k.cx - k.t * st.sx) AS BIGINT) AS wmax,
         CAST(min(k.s * k.cx - k.t * st.sx) AS BIGINT) AS wmin
  FROM blk k
  JOIN bstat st ON st.event_type = k.event_type AND st.s = k.s AND st.b = k.b
  WHERE st.cnt = k.s
  GROUP BY k.event_type, k.s, k.b
),
rs AS (
  SELECT w.event_type, w.s,
         (CAST(w.wmax - w.wmin AS DOUBLE) / CAST(w.s AS DOUBLE))
           / nullif(sqrt(CAST(CAST(st.sxx AS STRING) AS DOUBLE) / CAST(w.s AS DOUBLE)
                  - (CAST(st.sx AS DOUBLE) / CAST(w.s AS DOUBLE))
                    * (CAST(st.sx AS DOUBLE) / CAST(w.s AS DOUBLE))), 0e0)
           AS rs_b
  FROM wdev w
  JOIN bstat st ON st.event_type = w.event_type AND st.s = w.s AND st.b = w.b
),
rsm AS (
  SELECT event_type, s,
         CAST(count(rs_b) AS BIGINT) AS n_blocks,
         {dsum_expr("rs_b", 6)} / CAST(count(rs_b) AS DOUBLE) AS rs_mean
  FROM rs GROUP BY event_type, s
),
lnin AS (
  SELECT event_type, s, n_blocks, rs_mean,
         CAST(round(rs_mean * {_HURST_Q}.0e0) AS BIGINT) AS lq
  FROM rsm WHERE rs_mean > 0e0
),
{layers},
pts AS (
  SELECT event_type, s, n_blocks,
         ls_ln AS lx, lr_ln - lc_ln AS ly
  FROM {last}
),
ols AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_pts,
         {fold("lx")} AS sx, {fold("ly")} AS sy,
         {fold("xy")} AS sxy, {fold("xx")} AS sxx
  FROM (SELECT event_type, s, n_blocks, lx, ly,
               lx * ly AS xy, lx * lx AS xx FROM pts) p
  GROUP BY event_type
)
SELECT event_type, n_pts,
       (CAST(n_pts AS DOUBLE) * sxy - sx * sy)
         / nullif(CAST(n_pts AS DOUBLE) * sxx - sx * sx, 0e0) AS hurst
FROM ols
"""


@register(
    "timeseries_hurst_rs",
    oracle=_hurst_sql("epoch_us(ts)", "duck"),
    description=f"Hurst exponent by rescaled-range analysis over block "
    f"sizes {HURST_WINDOWS}: cumulative-deviation ranges kept EXACT in "
    "integers (W·s = s·cumsum − t·Σx), block std from exact moments, "
    "ln(R/S) through the integer-ln kernel via 1e-9 quantization (the "
    "ln-of-a-double unlock), s-ordered OLS fold for the slope — the "
    "long-range-dependence diagnostic; calendar-bounded block windows",
)
def timeseries_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hurst_sql("unix_micros(ts)", "spark"))


# --- spectral entropy (wave 21) ---
# One number for "how concentrated is this series' rhythm": normalized
# Shannon entropy of the periodogram mass, H = −Σ p̂·ln p̂ / ln m over
# the direct-DFT powers at periods 2..30 days (a denser grid than
# timeseries_periodogram's 3 calendar periods — entropy over 3 points
# says little). H → 0 means one period dominates (strong seasonality),
# H → 1 means white-noise-flat power — the regime feature forecasting
# pipelines gate Holt-Winters vs flat models on. Powers reuse the
# periodogram machinery verbatim (exact integer quadrant reduction +
# deterministic sin/cos kernels, decimal-routed C/S sums); the ln of
# the POSITIVE DOUBLE mass fractions rides the integer-ln kernel via
# the Hurst 1e-9 quantization (ln x = dln(round(x·1e9)) − dln(1e9),
# both args exact integers); fractions that quantize to 0 contribute
# 0 — the x·ln x → 0 limit, documented and shared-text on both sides.
#
# Scale: one (type, day) aggregate, |periods|=29 literal fan-out over
# the calendar-bounded series, a k×29-bounded ln stack, a k-row emit.

SPECENT_PERIODS = tuple(range(2, 31))
_SPECENT_Q = 1_000_000_000


def _spectral_entropy_sql(epoch_us: str) -> str:
    import math

    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.functions.geo import dcos_sql, dlit, dsin_sql
    from posting_lines_spark.queries.parity import dsum_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    periods = " UNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS p" for p in SPECENT_PERIODS
    )
    half_pi = dlit(math.pi / 2.0)
    c, s = dcos_sql("u"), dsin_sql("u")
    cos_t = (
        f"CASE q WHEN 0 THEN {c} WHEN 1 THEN -{s} "
        f"WHEN 2 THEN -{c} ELSE {s} END"
    )
    sin_t = (
        f"CASE q WHEN 0 THEN {s} WHEN 1 THEN {c} "
        f"WHEN 2 THEN -{s} ELSE -{c} END"
    )
    layers, last = dln_int_cte_layers(
        [("pq", "se"), (f"CAST({_SPECENT_Q} AS BIGINT)", "sq")],
        "lnin",
        "sel",
    )
    m = len(SPECENT_PERIODS)
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY event_type, {day}
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(min(day) AS BIGINT) AS d0
  FROM daily GROUP BY event_type
),
base AS (
  SELECT d.event_type, d.x, d.day - s.d0 AS t, s.n, s.sx
  FROM daily d JOIN stats s ON s.event_type = d.event_type
),
ang1 AS (
  SELECT event_type, x, n, sx, p,
         CAST(floor(CAST(4 * (t % p) AS DOUBLE) / CAST(p AS DOUBLE))
              AS BIGINT) AS q,
         4 * (t % p) AS r4
  FROM base CROSS JOIN ({periods}) pr
),
ang AS (
  SELECT event_type, x, n, sx, p, q,
         {half_pi} * (CAST(r4 - q * p AS DOUBLE) / CAST(p AS DOUBLE)) AS u
  FROM ang1
),
terms AS (
  SELECT event_type, p, n,
         (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * ({cos_t}) AS xc,
         (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * ({sin_t}) AS xs
  FROM ang
),
power AS (
  SELECT event_type, p, CAST(max(n) AS BIGINT) AS n,
         ({dsum_expr("xc", 2)} * {dsum_expr("xc", 2)}
          + {dsum_expr("xs", 2)} * {dsum_expr("xs", 2)})
           / CAST(max(n) AS DOUBLE) AS pw
  FROM terms GROUP BY event_type, p
),
frac AS (
  SELECT event_type, p, n, pw,
         pw / nullif(sum(pw) OVER (PARTITION BY event_type), 0e0) AS ph
  FROM power
),
lnin AS (
  SELECT event_type, p, n, ph,
         CAST(round(ph * {float(_SPECENT_Q)!r}e0) AS BIGINT) AS pq
  FROM frac WHERE CAST(round(ph * {float(_SPECENT_Q)!r}e0) AS BIGINT) >= 1
),
{layers},
ent AS (
  SELECT event_type, {dsum_expr("-ph * (se_ln - sq_ln)", 12)} AS h_raw
  FROM {last} GROUP BY event_type
)
SELECT s.event_type, s.n AS n_days, {m} AS n_periods, e.h_raw,
       e.h_raw / {dlit(math.log(float(m)))} AS h_norm
FROM stats s LEFT JOIN ent e ON e.event_type = s.event_type
"""


@register(
    "timeseries_spectral_entropy",
    oracle=_spectral_entropy_sql("epoch_us(ts)"),
    description=f"normalized spectral entropy per event type over "
    f"direct-DFT powers at periods {SPECENT_PERIODS[0]}–"
    f"{SPECENT_PERIODS[-1]} days: periodogram machinery (integer "
    "quadrant reduction + deterministic trig kernels, decimal-routed "
    "C/S sums), mass fractions through the integer-ln kernel via the "
    "Hurst 1e-9 quantization, H/ln m ∈ [0,1] — the seasonality-"
    "concentration regime feature; a constant (zero mean-removed "
    "power) series emits an explicit NULL-entropy row via the "
    "stats left-join, never silently vanishing (ADVICE r11); "
    "calendar-bounded fan-out, k-row emit",
)
def timeseries_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_spectral_entropy_sql("unix_micros(ts)"))


# --- Engle-Granger cointegration step (wave 23) ---
# Two trending series can correlate spuriously; the Engle-Granger test
# asks whether a LINEAR COMBINATION is stationary — the spread that
# pairs-trading / demand-transfer analyses act on. Step 1 regresses
# daily purchase cents on daily click cents (same calendar day, exact
# integer cross sums); step 2 runs the Dickey-Fuller regression
# Δe_t = γ·e_{t−1} + ε on the residual and emits γ̂ and its t-statistic
# (NO p-value: DF critical values are tabulated constants — out of
# replay scope, documented; the t-stat itself is fully replayable).
# The r11 DW/BP lesson applies verbatim: residuals quantize to integer
# cents once (round half-away, engine-identical), after which every
# regression sum — Σe², Σee', ΣΔe·e — is an EXACT wide integer and no
# double→decimal cast exists anywhere.
#
# Scale: one (day, type) aggregate, one day-equi-join (calendar-
# bounded), exact-sum reduces, a lag window, a 1-row finish.


def _eg_sql(us: str, w19: str) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY {day}, event_type
),
pairs AS (
  SELECT p.day, p.x AS y, c.x AS x
  FROM daily p JOIN daily c
    ON c.day = p.day AND p.event_type = 'purchase'
   AND c.event_type = 'click'
),
csums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS {w19}) * x) AS {w19}) AS sxx,
         CAST(sum(CAST(x AS {w19}) * y) AS {w19}) AS sxy
  FROM pairs
),
coefs AS (
  SELECT n,
         (CAST(n AS DOUBLE) * {s2d("sxy")}
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) * {s2d("sxx")}
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0) AS b,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM csums
),
resid AS (
  SELECT p.day,
         CAST(round(CAST(p.y AS DOUBLE)
              - ((c.syd - c.b * c.sxd) / CAST(c.n AS DOUBLE))
              - c.b * CAST(p.x AS DOUBLE)) AS BIGINT) AS eq
  FROM pairs p CROSS JOIN coefs c
),
lagged AS (
  SELECT eq, lag(eq) OVER (ORDER BY day) AS ep FROM resid
),
dfsums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(ep AS {w19}) * ep) AS {w19}) AS spp,
         CAST(sum(CAST(eq - ep AS {w19}) * ep) AS {w19}) AS sdp,
         CAST(sum(CAST(eq - ep AS {w19}) * (eq - ep)) AS {w19}) AS sdd
  FROM lagged WHERE ep IS NOT NULL
),
fin AS (
  SELECT m,
         {s2d("sdp")} / nullif({s2d("spp")}, 0e0) AS gamma,
         ({s2d("sdd")}
          - ({s2d("sdp")} / nullif({s2d("spp")}, 0e0)) * {s2d("sdp")})
           / (CAST(m AS DOUBLE) - 1e0) AS s2
  FROM dfsums
)
SELECT m AS n_diffs, gamma,
       gamma / nullif(sqrt(s2 / {s2d("(SELECT spp FROM dfsums)")}), 0e0)
         AS t_gamma
FROM fin
"""


@register(
    "timeseries_engle_granger",
    oracle=_eg_sql("epoch_us(ts)", "HUGEINT"),
    description="Engle-Granger cointegration step for daily purchase "
    "vs click cents: exact wide-integer OLS, residuals quantized to "
    "integer cents (the r11 DW/BP discipline — zero double→decimal "
    "casts), Dickey-Fuller regression Δe on lag(e) with γ̂ and its "
    "t-statistic from exact sums; no tabulated critical values "
    "emitted (documented); calendar-bounded joins and windows, 1-row "
    "finish",
)
def timeseries_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_eg_sql("unix_micros(ts)", "DECIMAL(38,0)"))


# --- Granger causality step (wave 26) ---
# timeseries_engle_granger asks whether click/purchase share a common
# stochastic trend (cointegration); the OTHER question pairs analyses
# ask is PREDICTIVE: does yesterday's click level improve today's
# purchase forecast beyond purchase's own history? That is Granger
# causality at lag 1 — restricted AR(1) y_t ~ y_{t−1} vs unrestricted
# y_t ~ y_{t−1} + x_{t−1}, F = (SSR_r − SSR_u)(n−3)/SSR_u (NO p-value:
# F critical values are tabulated constants, out of replay scope; the
# statistic replays exactly).
#
# Exactness: daily series quantize to integer cents once; triples come
# from an explicit day−1 self-join (true consecutive days, never
# lag-over-gaps); every first-order moment (10 sums) and every
# CENTERED second-order term n·Sab − Sa·Sb is an EXACT wide integer
# (≤ ~2.4e19 at sf10 — inside DECIMAL(38)/HUGEINT); only the final
# rational forms (2×2 Cramer solve, SSRs, F) are doubles, computed
# from string-routed exact casts in shared text — deterministic on
# both engines (the DW/BP/EG discipline; squaring the centered terms
# would pass 1e40 and overflow int128, so the ratio layer is where
# doubles begin, documented).
#
# Scale: one (day, type) aggregate, one day−1 equi-join (calendar-
# bounded), one 10-sum reduce, a 1-row finish.


def _granger_sql(us: str, w19: str) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    # centered-scaled second-order exact terms: C_ab = n·S_ab − S_a·S_b
    def cen(sab: str, sa: str, sb: str) -> str:
        return (
            f"CAST(CAST(n AS {w19}) * {sab} "
            f"- CAST({sa} AS {w19}) * {sb} AS {w19})"
        )

    return f"""
WITH daily AS (
  SELECT {day} AS day, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY {day}, event_type
),
pairs AS (
  SELECT p.day, p.v AS y, c.v AS x
  FROM daily p JOIN daily c
    ON c.day = p.day AND p.event_type = 'purchase'
   AND c.event_type = 'click'
),
trip AS (
  -- pairs is calendar-bounded (one row per day), so the day−1 self-
  -- join must broadcast, never SortMergeJoin; the hint is a no-op
  -- comment on DuckDB
  SELECT /*+ BROADCAST(prv) */ cur.y AS yt, prv.y AS y1, prv.x AS x1
  FROM pairs cur JOIN pairs prv ON prv.day = cur.day - 1
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(yt) AS BIGINT) AS sy,
         CAST(sum(y1) AS BIGINT) AS sy1,
         CAST(sum(x1) AS BIGINT) AS sx1,
         CAST(sum(CAST(yt AS {w19}) * yt) AS {w19}) AS syy,
         CAST(sum(CAST(y1 AS {w19}) * y1) AS {w19}) AS sy1y1,
         CAST(sum(CAST(x1 AS {w19}) * x1) AS {w19}) AS sx1x1,
         CAST(sum(CAST(y1 AS {w19}) * x1) AS {w19}) AS sy1x1,
         CAST(sum(CAST(yt AS {w19}) * y1) AS {w19}) AS syy1,
         CAST(sum(CAST(yt AS {w19}) * x1) AS {w19}) AS syx1
  FROM trip
),
cen AS (
  SELECT n,
         {s2d(cen("syy", "sy", "sy"))} AS cyy,
         {s2d(cen("sy1y1", "sy1", "sy1"))} AS a11,
         {s2d(cen("sx1x1", "sx1", "sx1"))} AS a22,
         {s2d(cen("sy1x1", "sy1", "sx1"))} AS a12,
         {s2d(cen("syy1", "sy", "sy1"))} AS b1,
         {s2d(cen("syx1", "sy", "sx1"))} AS b2
  FROM sums
),
fit AS (
  SELECT n, cyy, a11, a22, a12, b1, b2,
         a11 * a22 - a12 * a12 AS det,
         (cyy - b1 * b1 / nullif(a11, 0e0)) / CAST(n AS DOUBLE) AS ssr_r,
         (cyy - (b1 * (a22 * b1 - a12 * b2) + b2 * (a11 * b2 - a12 * b1))
                  / nullif(a11 * a22 - a12 * a12, 0e0))
           / CAST(n AS DOUBLE) AS ssr_u
  FROM cen
)
SELECT n AS n_triples,
       (a22 * b1 - a12 * b2) / nullif(det, 0e0) AS beta_y_lag,
       (a11 * b2 - a12 * b1) / nullif(det, 0e0) AS beta_x_lag,
       ssr_r, ssr_u,
       (ssr_r - ssr_u) * (CAST(n AS DOUBLE) - 3e0)
         / nullif(ssr_u, 0e0) AS f_granger
FROM fit
"""


@register(
    "timeseries_granger",
    oracle=_granger_sql("epoch_us(ts)", "HUGEINT"),
    description="Granger causality at lag 1 (does yesterday's click "
    "level improve today's purchase forecast beyond purchase's own "
    "history? — the PREDICTIVE counterpart to engle_granger's common-"
    "trend test): restricted AR(1) vs unrestricted 2-regressor OLS, "
    "F = (SSR_r−SSR_u)(n−3)/SSR_u; cents quantized once, consecutive-"
    "day triples from an explicit day−1 self-join, all 10 moments and "
    "every centered n·Sab−Sa·Sb term EXACT wide integers, doubles only "
    "at the final rational layer (string-routed casts, shared text — "
    "int128 would overflow at the squared-centered layer, documented); "
    "no tabulated constants; one aggregate + calendar-bounded join",
)
def timeseries_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_granger_sql("unix_micros(ts)", "DECIMAL(38,0)"))


# --- Newey-West HAC standard error (wave 28) ---
# timeseries_durbin_watson DETECTS serial correlation in a daily
# series; the inference consequence is that the iid standard error of
# the mean is wrong. Newey-West (1987) fixes it: long-run variance
# lrv = γ₀ + 2·Σ_{l=1..L} (1 − l/(L+1))·γ_l (Bartlett weights, L=5),
# se_NW = √(lrv/n) — the HAC correction every "did the daily mean
# move?" readout should use when DW fires. Exactness discipline:
# daily cents quantize once; for every lag the n²-scaled centered
# autocovariance n²·Σ(x_t−x̄)(x_{t−l}−x̄) = n²·S_l − n·Sy·(A_l+B_l)
# + m_l·Sy² is an EXACT wide integer (≈5e23 at sf10, ≈5e29 at 100 TB —
# inside DECIMAL(38)/int128), string-cast to double only at the γ_l =
# C_l/n³ ratio layer; the lag pivot is L-bounded (max(CASE WHEN l=…)),
# so no cross-row double sum exists at all.
#
# Scale: one (day) aggregate, an L-bounded day−l self-join fan-out
# against the calendar-bounded daily table, one 6-row pivot, a 1-row
# finish.

NW_LAGS = 5


def _newey_west_sql(us: str, w19: str) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    lags = " UNION ALL ".join(
        f"SELECT CAST({l} AS BIGINT) AS l" for l in range(1, NW_LAGS + 1)
    )
    gcol = lambda l: f"max(CASE WHEN l = {l} THEN g END)"  # noqa: E731
    bartlett = " + ".join(
        f"2.0e0 * (1.0e0 - {l}.0e0 / {NW_LAGS + 1}.0e0) * {gcol(l)}"
        for l in range(1, NW_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
  GROUP BY {day}
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS {w19}) * x) AS {w19}) AS syy
  FROM daily
),
lagsums AS (
  SELECT g.l,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(cur.x AS {w19}) * prv.x) AS {w19}) AS sl,
         CAST(sum(cur.x) AS BIGINT) AS al,
         CAST(sum(prv.x) AS BIGINT) AS bl
  FROM ({lags}) g
  JOIN daily cur ON TRUE
  JOIN daily prv ON prv.day = cur.day - g.l
  GROUP BY g.l
),
cg AS (
  SELECT l.l,
         {s2d(
             f"CAST(CAST(b.n AS {w19}) * b.n * l.sl "
             f"- CAST(b.n AS {w19}) * b.sy * (l.al + l.bl) "
             f"+ CAST(l.m AS {w19}) * b.sy * b.sy AS {w19})"
         )}
           / (CAST(b.n AS DOUBLE) * b.n * b.n) AS g
  FROM lagsums l CROSS JOIN base b
),
g0 AS (
  -- n·Σx² − Sy² is the n¹-scaled centered sum (the lag terms carry an
  -- n² scale), so γ₀ divides by n², not n³
  SELECT CAST(n AS BIGINT) AS n,
         CAST(sy AS DOUBLE) / n AS mean_cents,
         ({s2d(f"CAST(CAST(n AS {w19}) * syy - CAST(sy AS {w19}) * sy AS {w19})")})
           / (CAST(n AS DOUBLE) * n) AS gamma0
  FROM base
),
piv AS (
  SELECT (SELECT gamma0 FROM g0) + {bartlett} AS lrv
  FROM cg
)
SELECT g0.n, g0.mean_cents / 100e0 AS daily_mean,
       g0.gamma0, p.lrv,
       sqrt(p.lrv / g0.n) / 100e0 AS se_nw,
       sqrt(g0.gamma0 / g0.n) / 100e0 AS se_iid,
       sqrt(p.lrv / nullif(g0.gamma0, 0e0)) AS nw_inflation
FROM g0 CROSS JOIN piv p
"""


@register(
    "timeseries_newey_west",
    oracle=_newey_west_sql("epoch_us(ts)", "HUGEINT"),
    description=f"Newey-West HAC standard error of the daily purchase "
    f"mean (Bartlett weights, L={NW_LAGS}) — the inference correction "
    "durbin_watson's serial-correlation detection calls for: every "
    "n²-scaled centered autocovariance an EXACT wide integer (doubles "
    "only at the γ=C/n³ ratio layer), the lag pivot L-bounded so no "
    "cross-row double sum exists; reports se_nw vs se_iid and the "
    "inflation ratio; calendar-bounded join fan-out",
)
def timeseries_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_newey_west_sql("unix_micros(ts)", "DECIMAL(38,0)"))


# --- seasonal Mann-Kendall (wave 30) ---
# timeseries_mann_kendall assumes one homogeneous series; metrics with
# a weekly cycle (the corpus's event stream has one) violate that —
# Monday-vs-Friday pairs carry the CYCLE, not the trend. The seasonal
# variant (Hirsch & Slack 1984) compares only WITHIN-season pairs
# (season = day-of-week here): S = Σ_seasons S_season,
# Var·18 = Σ_seasons [n_s(n_s−1)(2n_s+5) − ties_s], z continuity-
# corrected — the trend readout that survives seasonality. Same exact
# discipline as the parent: decimal-routed daily means, S and the
# 18-scaled variance exact BIGINTs, one fixed IEEE chain for z.
#
# Scale: the pair join is within-(type, season) — calendar-bounded
# per season (n_s ≈ days/7), strictly smaller than the parent's.


def _seasonal_mk_sql(epoch_us: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, {day} % 7 AS season, {davg_expr("value")} AS v
  FROM events
  GROUP BY event_type, {day}, {day} % 7
),
idx AS (
  SELECT event_type, season, v,
         CAST(row_number() OVER (PARTITION BY event_type, season
                                 ORDER BY day) AS BIGINT) AS i
  FROM daily
),
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM idx a
  JOIN idx b ON b.event_type = a.event_type AND b.season = a.season
            AND b.i > a.i
  GROUP BY a.event_type
),
per_season AS (
  SELECT event_type, season, CAST(count(*) AS BIGINT) AS ns
  FROM idx GROUP BY event_type, season
),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
  FROM (
    SELECT event_type, season, v, CAST(count(*) AS BIGINT) AS t
    FROM idx GROUP BY event_type, season, v
  ) g
  WHERE t > 1
  GROUP BY event_type
),
var18 AS (
  SELECT p.event_type,
         CAST(sum(p.ns * (p.ns - 1) * (2 * p.ns + 5)) AS BIGINT)
           - CAST(coalesce(max(t.tie18), 0) AS BIGINT) AS v18,
         CAST(sum(p.ns) AS BIGINT) AS n_days,
         CAST(count(*) AS BIGINT) AS n_seasons
  FROM per_season p LEFT JOIN ties t ON t.event_type = p.event_type
  GROUP BY p.event_type
)
SELECT s.event_type, v.n_days, v.n_seasons, s.s_stat, v.v18 AS var18,
       CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
            WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
            ELSE 0e0 END
         / nullif(sqrt(CAST(v.v18 AS DOUBLE) / 18.0e0), 0e0) AS z_smk
FROM s JOIN var18 v ON v.event_type = s.event_type
"""


@register(
    "timeseries_seasonal_mann_kendall",
    oracle=_seasonal_mk_sql("epoch_us(ts)"),
    description="seasonal Mann-Kendall (Hirsch-Slack, season = day-of-"
    "week): within-season pairs only, so a weekly cycle can't "
    "masquerade as (or mask) a trend — S and the per-season-summed "
    "tie-corrected 18-scaled variance exact BIGINTs, continuity-"
    "corrected z one fixed IEEE chain; within-season pair join is "
    "calendar-bounded and ~7× smaller than the parent's",
)
def timeseries_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_seasonal_mk_sql("unix_micros(ts)"))


# --- CUSUM mean-shift drift detector (wave 32) ---
# The change-POINT companion of timeseries_newey_west (which asks "how
# uncertain is the mean?"): did the daily purchase level SHIFT
# somewhere inside the window, and where? The Brownian-bridge CUSUM
# statistic (Page 1954 / the KS-style bridge form):
#   S_i  = prefix sum of daily cents in day order,
#   D_i  = n·S_i − i·S_n            (the n-scaled bridge — EXACT integer),
#   B*   = max_i |D_i| / sqrt(n · (n·Σx² − S_n²))  (σ̂-standardized),
# with the argmax day reported as the shift-point estimate (earliest
# day on ties — a total order). All prefix math is exact integers
# (D_i is int64-safe through sf100; Σx² rides the wide-integer type),
# doubles appear only in the final three ratios — the KS/CvM
# discipline. No tabulated thresholds emitted (B* ≈ 1.36 is the usual
# 95% gate; critical values are out of replay scope repo-wide).
#
# Scale: one day-grain aggregate (map-side combine), the global prefix
# via the two-pass range-partitioned operator on the engine side
# (calendar-bounded rows; the oracle keeps a plain window — it needn't
# scale), a 1-row finish.

CUSUM_TYPE = "purchase"


def _cusum_drift_sql(us: str, w19: str) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = '{CUSUM_TYPE}'
  GROUP BY {day}
),
run AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s
  FROM daily
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sn,
         CAST(sum(CAST(x AS {w19}) * x) AS {w19}) AS sxx
  FROM daily
),
dev AS (
  SELECT r.day,
         CAST(b.n AS BIGINT) AS n,
         CAST(b.n * r.s - r.i * b.sn AS BIGINT) AS d,
         {s2d(f"CAST(CAST(b.n AS {w19}) * b.sxx - CAST(b.sn AS {w19}) * b.sn AS {w19})")}
           AS varsum
  FROM run r CROSS JOIN base b
),
peak AS (
  SELECT n, varsum,
         CAST(max(abs(d)) AS BIGINT) AS max_abs_dev,
         CAST(max(d) AS BIGINT) AS max_pos_dev,
         CAST(min(d) AS BIGINT) AS max_neg_dev
  FROM dev GROUP BY n, varsum
)
SELECT p.n AS n_days,
       p.max_abs_dev,
       (SELECT min(day) FROM dev WHERE abs(d) = p.max_abs_dev)
         AS shift_day,
       CAST(p.max_abs_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_stat,
       CAST(p.max_pos_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_up,
       CAST(-p.max_neg_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_down
FROM peak p
"""


@register(
    "timeseries_cusum_drift",
    oracle=_cusum_drift_sql("epoch_us(ts)", "HUGEINT"),
    description="Brownian-bridge CUSUM mean-shift detector on daily "
    "purchase cents (the change-POINT companion of timeseries_newey_"
    "west): D_i = n·S_i − i·S_n from exact integer prefix sums, "
    "B* = max|D|/√(n·(nΣx²−S²)) with the argmax day as the shift-point "
    "estimate (earliest on ties); engine prefix via the two-pass "
    "range-partitioned running-sum operator, oracle keeps a plain "
    "window; doubles only in the final ratios, no tabulated critical "
    "values (B*≈1.36 is the usual 95% gate, out of replay scope)",
)
def timeseries_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Engine formulation: the global prefix comes from the range-
    # partitioned two-pass operator (never a single-partition window);
    # identical values, different plan — the stats_ks_uniform split.
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == CUSUM_TYPE)
        .groupBy(
            F.expr(
                "CAST(floor(unix_micros(ts) / 86400000000.0e0) AS BIGINT)"
            ).alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(round(value * 100e0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
        .withColumn("one", F.lit(1).cast("long"))
    )
    run = global_running_sums(daily, ["day"], ["x", "one"])
    base = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sn"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    dev = run.crossJoin(F.broadcast(base)).select(
        "day",
        "n",
        (F.col("n") * F.col("run_x") - F.col("run_one") * F.col("sn"))
        .cast("long")
        .alias("d"),
        F.expr(
            "CAST(CAST(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sn AS DECIMAL(38,0)) * sn AS DECIMAL(38,0))"
            " AS STRING) AS DOUBLE)"
        ).alias("varsum"),
    )
    dev.createOrReplaceTempView("pls_cusum_dev")
    return spark.sql(
        """
WITH peak AS (
  SELECT n, varsum,
         CAST(max(abs(d)) AS BIGINT) AS max_abs_dev,
         CAST(max(d) AS BIGINT) AS max_pos_dev,
         CAST(min(d) AS BIGINT) AS max_neg_dev
  FROM pls_cusum_dev GROUP BY n, varsum
)
SELECT p.n AS n_days,
       p.max_abs_dev,
       (SELECT min(day) FROM pls_cusum_dev WHERE abs(d) = p.max_abs_dev)
         AS shift_day,
       CAST(p.max_abs_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_stat,
       CAST(p.max_pos_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_up,
       CAST(-p.max_neg_dev AS DOUBLE)
         / nullif(sqrt(CAST(p.n AS DOUBLE) * p.varsum), 0e0) AS bridge_down
FROM peak p
"""
    )


# --- Pettitt change-point test (wave 34) ---
# The RANK-based change-point companion of timeseries_cusum_drift:
# CUSUM detects a MEAN shift and is variance-sensitive; Pettitt (1979)
# is the Mann-Whitney form — distribution-free, robust to outliers.
#   U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j),   K = max_t |U_t|,
# computed exactly via the tied-rank identity U_t = 2·S_t − t(n+1)
# with S_t the prefix sum of AVERAGE ranks: a tied block with
# exclusive/inclusive cumulative bounds (lo, hi] has average rank
# (lo+hi+1)/2, so carrying R2 = lo+hi+1 = 2·avgrank keeps everything
# integer — U_t = Σ_{i≤t} R2_i − t(n+1) exactly (sgn ties = 0 match
# average ranks). The change-day estimate is the argmax (earliest on
# ties). The significance approximation p ≈ 2·exp(−6K²/(n³+n²)) needs
# a transcendental, so the EXPONENT −6K²/(n³+n²) is emitted instead
# (pure rational → double, fully replayable; exp is a tabulated-
# constant class repo-wide).
#
# Scale: value-grid tied ranks (domain-bounded) joined back to the
# calendar-bounded daily series; windows are day-count-shaped.

PETTITT_TYPE = "purchase"

PETTITT_SQL = f"""
WITH daily AS (
  SELECT CAST(floor({{us}} / 86400000000.0e0) AS BIGINT) AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = '{PETTITT_TYPE}'
  GROUP BY 1
),
grid AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY x
),
cumg AS (
  SELECT x,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS hi,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS lo
  FROM grid
),
r2 AS (
  SELECT d.day, CAST(g.lo + g.hi + 1 AS BIGINT) AS r2
  FROM daily d JOIN cumg g ON g.x = d.x
),
pre AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(sum(r2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s2,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM r2
),
u AS (
  SELECT day, t, n, CAST(s2 - t * (n + 1) AS BIGINT) AS ut
  FROM pre WHERE t < n
),
peak AS (SELECT CAST(max(abs(ut)) AS BIGINT) AS k, max(n) AS n FROM u)
SELECT p.n AS n_days, p.k AS k_stat,
       (SELECT min(day) FROM u WHERE abs(ut) = p.k) AS change_day,
       -6.0e0 * p.k * p.k
         / nullif(CAST(p.n AS DOUBLE) * p.n * p.n
                  + CAST(p.n AS DOUBLE) * p.n, 0e0) AS log_p_over_2
FROM peak p
"""


@register(
    "timeseries_pettitt",
    oracle=PETTITT_SQL.format(us="epoch_us(ts)"),
    description="Pettitt rank-based change-point test on daily purchase "
    "cents — the distribution-free companion of timeseries_cusum_drift "
    "(Mann-Whitney form, robust to outliers): exact tied-rank identity "
    "U_t = Σ R2 − t(n+1) with R2 = lo+hi+1 from the value grid (2× "
    "average rank, integer), K = max|U_t| with the earliest argmax day "
    "as the change-point estimate; the exp() of the significance "
    "approximation is out of replay scope so its EXPONENT "
    "−6K²/(n³+n²) is emitted instead",
)
def timeseries_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(PETTITT_SQL.format(us="unix_micros(ts)"))
