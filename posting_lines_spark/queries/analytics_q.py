"""Event-analytics operators over `events`: ordered-sequence funnel
analysis and cohort retention — the two classic product-analytics
queries engines grow dedicated operators for (ClickHouse windowFunnel /
retention); here both are compositions of interval joins and
day-bucketed aggregates, exactly oracle-checkable because all time math
is integer microseconds (TESTDATA ns truncated to µs on both engines).

Scale: the funnel's stage joins are per-user interval joins (shuffle on
user_id; per-user event counts are small and AQE splits outliers);
cohort retention is two hash-aggregates keyed on user then
(cohort, offset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import md5_int_duck, md5_int_spark
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

# --- funnel: view → click → purchase, each step within 1 hour ---

FUNNEL_SQL = """
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
vc AS (
  SELECT DISTINCT v.user_id, c.ts AS c_ts
  FROM v JOIN c ON c.user_id = v.user_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
),
vcp AS (
  SELECT DISTINCT vc.user_id
  FROM vc JOIN p ON p.user_id = vc.user_id
   AND p.ts >= vc.c_ts AND p.ts <= vc.c_ts + INTERVAL 1 HOUR
)
SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM v) AS n_stage_view,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM vc) AS n_stage_click,
       (SELECT CAST(count(*) AS BIGINT) FROM vcp) AS n_stage_purchase
"""


@register(
    "funnel_analysis",
    oracle=FUNNEL_SQL,
    description="ordered-sequence funnel (view→click→purchase, each step "
    "within 1h): per-user interval joins, distinct-user counts per stage "
    "— the windowFunnel-style operator as declarative joins; shuffles on "
    "user_id only",
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(FUNNEL_SQL)


# --- cohort retention ---

def _cohort_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH days AS (
  SELECT user_id, {day} AS day_no FROM events
),
firsts AS (
  SELECT user_id, min(day_no) AS cohort_day FROM days GROUP BY user_id
)
SELECT f.cohort_day,
       d.day_no - f.cohort_day AS day_offset,
       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active_users
FROM days d JOIN firsts f ON d.user_id = f.user_id
GROUP BY f.cohort_day, d.day_no - f.cohort_day
"""


@register(
    "cohort_retention",
    oracle=_cohort_sql("epoch_us(ts)"),
    description="cohort retention: first-activity day per user (cohort), "
    "distinct active users per (cohort, day offset) — day bucketing in "
    "exact integer µs; two hash-aggregates, user then (cohort, offset)",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cohort_sql("unix_micros(ts)"))


# --- Markov event transitions ---
# The sequence-mining primitive: per-user ordered bigrams of event types
# (lag window on (µs, event_id) — the repo's canonical tie-safe event
# order), counted globally, with the per-source transition probability
# from a window sum over the tiny transition matrix. One shuffle on
# user_id for the lag, one aggregate on the 25-cell (prev, next) key.

from posting_lines_spark.queries.parity import davg_expr, dsum_expr  # noqa: E402


def _transitions_sql(us: str) -> str:
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY {us}, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM t
"""


@register(
    "event_transitions",
    oracle=_transitions_sql("epoch_us(ts)"),
    description="Markov transition matrix over per-user event sequences: "
    "tie-safe lag window (µs + event_id order), global bigram counts, "
    "per-source transition probability via a window sum over the tiny "
    "matrix — the sequence-mining/session-model primitive; shuffles once "
    "on user_id, once on the 25-cell bigram key",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_transitions_sql("unix_micros(ts)"))


# --- z-score anomaly detection ---
# Population mean/std per event_type from decimal-routed sums (value is
# 2-dp exact data, value² 4-dp exact — both immune to the double→DECIMAL
# rounding hazard at scale 6), then z = (value − mean)/std per event and
# a 3σ gate. Every post-aggregate op (−, ·, /, sqrt, abs, >) is an
# IEEE-exact-rounded scalar on identical inputs, so both engines flag
# identical rows. Two scans + one broadcast join of a 5-row stats table.


def _zscore_sql(us_unused: str) -> str:
    return f"""
WITH stats AS (
  SELECT event_type,
         {dsum_expr("value")} / count(*) AS mean_v,
         {dsum_expr("value * value")} / count(*) AS msq_v
  FROM events GROUP BY event_type
),
scored AS (
  SELECT e.event_id, e.event_type, e.value,
         (e.value - s.mean_v) / sqrt(s.msq_v - s.mean_v * s.mean_v) AS z
  FROM events e JOIN stats s ON s.event_type = e.event_type
)
SELECT event_id, event_type, value, z
FROM scored
WHERE abs(z) > 3.0e0
"""


@register(
    "anomaly_zscore",
    oracle=_zscore_sql(""),
    description="z-score anomaly detection: per-type population mean/std "
    "from decimal-routed sums (engine-exact on 2-dp data), 3σ outlier "
    "gate — identical flagged rows on both engines because every "
    "post-aggregate scalar op is IEEE-exact-rounded; stats table (5 rows) "
    "broadcasts back onto the event stream",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_zscore_sql(""))


# --- gaps-and-islands streak detection ---
# The classic islands formulation: two row_numbers (global per user vs
# per (user, type)), their difference is constant within a run of
# consecutive same-type events, so grouping on it isolates each streak.
# All-integer (µs order + bigint ranks) ⇒ engine-exact. Two window
# passes over the same user_id shuffle, then one aggregate.


def _streaks_sql(us: str) -> str:
    return f"""
WITH ordered AS (
  SELECT user_id, event_type, event_id, {us} AS ts_us,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY {us}, event_id) AS BIGINT) AS rn,
         CAST(row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY {us}, event_id) AS BIGINT) AS rn_t
  FROM events
)
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS streak_len,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST(min(ts_us) AS BIGINT) AS start_us
FROM ordered
GROUP BY user_id, event_type, rn - rn_t
HAVING count(*) >= 3
"""


@register(
    "streaks_islands",
    oracle=_streaks_sql("epoch_us(ts)"),
    description="gaps-and-islands streak detection: runs of ≥3 consecutive "
    "same-type events per user via the two-row_number difference trick — "
    "all-integer and tie-safe (µs + event_id order); both windows share "
    "one user_id shuffle",
)
def streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_streaks_sql("unix_micros(ts)"))


# --- exact higher-moment statistics ---
# Skewness/kurtosis are the canonical "my distributed engine disagrees
# with my laptop" aggregates: both engines' built-ins sum doubles in
# partition order (and Spark's skewness is population-flavored while
# DuckDB's is sample-flavored), so neither matches anything bit-for-bit.
# Exact route: the data is 2-decimal, so quantize to integer fixed-point
# (v = round(value·100), exact), take power sums s1..s4 in EXACT integer
# arithmetic — DECIMAL(38,0) on Spark, HUGEINT on DuckDB; v⁴ ≤ 1e19
# overflows int64 but sums stay far below 1e38 — and evaluate the
# textbook central-moment formulas in DOUBLE from byte-identical inputs
# with byte-identical expression text: elementary IEEE ops (+,−,·,/,sqrt)
# are correctly rounded, so identical inputs + identical op sequence =
# identical bits on any two engines. One hash-aggregate, map-side
# combined; 100 TB cost = one scan + a 5-row shuffle.

def _moments_sql(vcast: str) -> str:
    m = "(s1/n)"
    var = f"(s2/n - {m}*{m})"
    return f"""
WITH f AS (
  SELECT event_type, {vcast} AS v FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(v) AS STRING) AS DOUBLE) AS s1,
         CAST(CAST(sum(v*v) AS STRING) AS DOUBLE) AS s2,
         CAST(CAST(sum(v*v*v) AS STRING) AS DOUBLE) AS s3,
         CAST(CAST(sum(v*v*v*v) AS STRING) AS DOUBLE) AS s4
  FROM f GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       {m} / 1.0e2 AS mean_value,
       sqrt({var}) / 1.0e2 AS std_pop,
       (s3/n - 3.0e0*{m}*(s2/n) + 2.0e0*{m}*{m}*{m})
         / nullif(sqrt({var}) * sqrt({var}) * sqrt({var}), 0.0e0) AS skewness_pop,
       (s4/n - 4.0e0*{m}*(s3/n) + 6.0e0*{m}*{m}*(s2/n) - 3.0e0*{m}*{m}*{m}*{m})
         / nullif({var} * {var}, 0.0e0) AS kurtosis_pop
FROM s
"""
# nullif guards: a zero-variance (constant) group yields NULL skew/kurtosis
# on BOTH engines instead of engine-specific Inf/NaN-vs-error divergence.


@register(
    "stats_moments",
    oracle=_moments_sql("CAST(round(value * 1.0e2) AS HUGEINT)"),
    description="exact mean/std/skewness/kurtosis per group from integer "
    "fixed-point power sums (DECIMAL(38,0) Spark / HUGEINT DuckDB — v⁴ "
    "overflows int64) + identical-text IEEE double formulas; one scan, "
    "one map-side-combined aggregate",
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_moments_sql("CAST(round(value * 1.0e2) AS DECIMAL(38,0))"))


# --- per-group OLS regression ---
# Closed-form least squares from exact wide-integer cross sums: x = second
# of day (≤ 86400), y = fixed-point value (≤ ~6e4). Per-row products fit
# int64; the sums are taken in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so
# they stay exact at any group size, then cast to DOUBLE (correctly
# rounded on both engines) and fed through identical-text double formulas.

def _regression_sql(us: str, idiv: str, wide: str) -> str:
    # `wide` = DECIMAL(38,0) on Spark / HUGEINT on DuckDB: the per-row
    # products fit int64 easily (x ≤ 86400, y ≤ ~6e4 → x·y ≤ 5.2e9) but
    # their SUMS do not at ~2e9+ rows/group — exact wide-integer sums keep
    # the engines bit-identical at any scale (decimal→double casts are
    # correctly rounded on both). nullif guards: constant-x (or constant-y)
    # groups yield NULL slope/intercept/r² on BOTH engines instead of
    # error-vs-Inf divergence.
    return f"""
WITH f AS (
  SELECT event_type,
         CAST((({us}) % 86400000000) {idiv} 1000000 AS BIGINT) AS x,
         CAST(round(value * 1.0e2) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(CAST(x AS {wide})) AS STRING) AS DOUBLE) AS sx,
         CAST(CAST(sum(CAST(y AS {wide})) AS STRING) AS DOUBLE) AS sy,
         CAST(CAST(sum(CAST(x*y AS {wide})) AS STRING) AS DOUBLE) AS sxy,
         CAST(CAST(sum(CAST(x*x AS {wide})) AS STRING) AS DOUBLE) AS sxx,
         CAST(CAST(sum(CAST(y*y AS {wide})) AS STRING) AS DOUBLE) AS syy
  FROM f GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       ((n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0.0e0)) / 1.0e2 AS slope_per_sec,
       ((sy - (n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0.0e0) * sx) / n) / 1.0e2 AS intercept,
       ((n*sxy - sx*sy) * (n*sxy - sx*sy))
         / nullif((n*sxx - sx*sx) * (n*syy - sy*sy), 0.0e0) AS r2
FROM s
"""


@register(
    "stats_regression",
    oracle=_regression_sql("epoch_us(ts)", "//", "HUGEINT"),
    description="per-group OLS (value vs second-of-day): closed-form "
    "slope/intercept/r² from exact wide-integer cross sums "
    "(DECIMAL(38,0)/HUGEINT — overflow-proof at any group size) with "
    "nullif-guarded denominators; one aggregate, no shuffle beyond the "
    "5-group combine",
)
def stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_regression_sql("unix_micros(ts)", "div", "DECIMAL(38,0)"))


# --- robust anomaly detection: median/MAD ---
# The z-score query (anomaly_zscore) uses mean/σ, which outliers inflate;
# the robust pair is median/MAD. Exact-interpolation percentiles over
# DOUBLES differ across engines (a+(b−a)·f vs lerp), but over INTEGER
# fixed-point values every midpoint is a half-integer — exactly
# representable, every interpolation op exact, so Spark's percentile()
# and DuckDB's quantile_cont() agree bit-for-bit. |v−med| is then exact
# halves, its median exact quarters, and the >k·MAD cut compares exact
# doubles — fully deterministic row-level anomaly flags.
# Scale: two aggregates over the group key + one broadcast join back;
# exact percentile shuffles the group's values — for 100 TB swap in
# approx_percentile and keep the same frame.

def _mad_sql(vcast: str, pct: str) -> str:
    return f"""
WITH f AS (
  SELECT event_type, event_id, value, {vcast} AS v FROM events
),
med AS (
  SELECT event_type, {pct}(v, 0.5e0) AS med FROM f GROUP BY event_type
),
mad AS (
  SELECT f.event_type, {pct}(abs(f.v - m.med), 0.5e0) AS mad, min(m.med) AS med
  FROM f JOIN med m ON f.event_type = m.event_type
  GROUP BY f.event_type
)
SELECT f.event_type, f.event_id, f.value,
       m.med / 1.0e2 AS group_median,
       m.mad / 1.0e2 AS group_mad,
       abs(f.v - m.med) / nullif(m.mad, 0.0e0) AS mad_ratio
FROM f JOIN mad m ON f.event_type = m.event_type
WHERE abs(f.v - m.med) > 6.0e0 * m.mad
"""


@register(
    "anomaly_mad",
    oracle=_mad_sql("CAST(round(value * 1.0e2) AS BIGINT)", "quantile_cont"),
    description="robust anomaly detection via median/MAD over integer "
    "fixed-point (every percentile interpolation lands on exact "
    "half-integers → bit-identical across engines); rows with "
    "|v−median| > 6·MAD",
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mad_sql("CAST(round(value * 1.0e2) AS BIGINT)", "percentile"))


# --- mode aggregate with deterministic tie-break ---
# Both engines ship a mode() whose tie behavior is unspecified; the
# deterministic formulation is count + row_number with a total order
# (count DESC, value ASC). Same SQL text runs on both engines.

MODE_SQL = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE user_id < 50
  GROUP BY user_id, event_type
)
SELECT user_id, event_type AS modal_type, n AS n_occurrences
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY n DESC, event_type) AS rn
  FROM c
)
WHERE rn = 1
"""


@register(
    "agg_mode",
    oracle=MODE_SQL,
    description="deterministic mode per group (most frequent event_type "
    "per user, ties broken lexicographically) — count + row_number "
    "instead of the engines' unspecified-tie mode(); two shuffles on the "
    "same user key",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(MODE_SQL)


# --- rolling distinct users (7-day active users per day) ---
# The DAU/WAU query every event pipeline runs, and a shape windows can't
# express directly (count(DISTINCT) over a RANGE frame is unsupported):
# the scalable form is the contribute-explode — each (user, day) fact
# contributes itself to the 7 windows ending on days d..d+6, then one
# distinct + one count per window day. Cost is exactly 7× the distinct
# fact stream (linear, map-side explode), never a per-day rescan. The
# oracle computes the same number INDEPENDENTLY as a per-day correlated
# range join (spine BETWEEN day-6 AND day) — two different algorithms,
# one answer. Day ids are integer epoch-day buckets; all math integer.

ROLLING_DISTINCT_ORACLE = """
WITH facts AS (
  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM facts),
spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds)
SELECT s.d AS day,
       CAST(count(DISTINCT f.user_id) AS BIGINT) AS active_7d
FROM spine s JOIN facts f ON f.day BETWEEN s.d - 6 AND s.d
GROUP BY s.d
"""


@register(
    "window_rolling_distinct",
    oracle=ROLLING_DISTINCT_ORACLE,
    description="rolling 7-day distinct users per day (WAU curve): "
    "count(DISTINCT) over a range frame is unsupported, so each "
    "(user, day) fact contributes to its 7 covering windows via a "
    "map-side explode (7× the distinct fact stream, linear) — the "
    "oracle recomputes it as an independent correlated range join",
)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    facts = (
        e.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    contrib = facts.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day")
    )
    bounds = facts.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    return (
        contrib.join(F.broadcast(bounds))
        .filter((F.col("day") >= F.col("lo")) & (F.col("day") <= F.col("hi")))
        .select("user_id", "day")
        .distinct()  # one row per (user, day) — so the count below is exact
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_7d"))
    )


# --- chi-square independence test (categorical association) ---
# Are l_returnflag and l_linestatus independent? The contingency-table
# chi-square: χ² = Σ_cells (observed − expected)²/expected with
# expected = row_total·col_total/n. Every input is an exact integer
# count, expected is one IEEE multiply/divide, and the cell terms fold
# in (flag, status) order — bit-identical across engines with no
# decimal routing. The shape: one count aggregate, two marginal
# re-aggregates joined back (all broadcast-sized), one ordered fold.
# At 100 TB only the first aggregate sees data; everything downstream
# is |cells| rows.

CHI2_SQL = """
WITH cells AS (
  SELECT l_returnflag AS flag, l_linestatus AS status,
         CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY 1, 2
),
rows_m AS (SELECT flag, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY flag),
cols_m AS (SELECT status, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY status),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT c.flag, c.status, c.o,
         (CAST(r.rt AS DOUBLE) * ct) / n AS e
  FROM cells c
  JOIN rows_m r ON r.flag = c.flag
  JOIN cols_m m ON m.status = c.status
  CROSS JOIN tot
),
t2 AS (
  SELECT flag, status, ((o - e) * (o - e)) / e AS term FROM terms
)
SELECT CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_cells,
       (SELECT count(*) FROM rows_m) * (SELECT count(*) FROM cols_m)
         - (SELECT count(*) FROM rows_m) - (SELECT count(*) FROM cols_m) + 1 AS dof,
       (SELECT {FOLD} FROM t2) AS chi2
"""


def _chi2_sql(fold: str) -> str:
    return CHI2_SQL.replace("{FOLD}", fold)


_CHI2_FOLD_SPARK = (
    "aggregate(transform(array_sort(collect_list(struct(flag, status, term))), "
    "s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_CHI2_FOLD_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list(term ORDER BY flag, status)), (acc, v) -> acc + v)"
)


@register(
    "stats_chi2_independence",
    oracle=_chi2_sql(_CHI2_FOLD_DUCK),
    description="chi-square independence test on the returnflag × "
    "linestatus contingency table: integer cell counts, IEEE expected "
    "values, cell-ordered fold — categorical-association stats with "
    "structural cross-engine parity; only the first aggregate touches "
    "data, everything downstream is |cells| rows",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_chi2_sql(_CHI2_FOLD_SPARK))


# --- conversion-lag curve (discrete survival analysis) ---
# The time-to-convert distribution funnel_analysis doesn't show: for
# every user whose journey starts with a view, how many days until
# their first purchase AT OR AFTER that view — reported as the
# cumulative conversion curve per day offset (the complement of a
# Kaplan-Meier survival curve with administrative censoring at the
# observation horizon; no other censoring exists in a closed event
# log). All time math is integer microseconds; the curve is a window
# cumsum over the |offsets|-row lag histogram; the fraction is one IEEE
# division by the fixed cohort size.


def _conv_lag_sql(us: str) -> str:
    return f"""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN {us} END) AS v_us
  FROM events GROUP BY user_id
),
conv AS (
  SELECT f.user_id, f.v_us,
         min(CASE WHEN e.event_type = 'purchase' AND {us} >= f.v_us
                  THEN {us} END) AS p_us
  FROM firsts f JOIN events e ON e.user_id = f.user_id
  WHERE f.v_us IS NOT NULL
  GROUP BY f.user_id, f.v_us
),
lags AS (
  SELECT CAST(floor((p_us - v_us) / 86400000000e0) AS BIGINT) AS lag_days
  FROM conv WHERE p_us IS NOT NULL
),
cohort AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM conv),
hist AS (SELECT lag_days, CAST(count(*) AS BIGINT) AS n FROM lags GROUP BY lag_days)
SELECT lag_days,
       n AS n_converted_on_day,
       CAST(sum(n) OVER (ORDER BY lag_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
       CAST(sum(n) OVER (ORDER BY lag_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / (SELECT n_users FROM cohort) AS cum_conversion
FROM hist
"""


@register(
    "funnel_conversion_lag",
    oracle=_conv_lag_sql("epoch_us(e.ts)").replace(
        "min(CASE WHEN event_type = 'view' THEN epoch_us(e.ts) END)",
        "min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)",
    ),
    description="conversion-lag curve (discrete survival): days from "
    "first view to first subsequent purchase per user, reported as the "
    "cumulative conversion fraction per day offset — integer-µs lag "
    "histogram + one window cumsum; the Kaplan-Meier complement for a "
    "closed log",
)
def funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _conv_lag_sql("unix_micros(e.ts)").replace(
            "min(CASE WHEN event_type = 'view' THEN unix_micros(e.ts) END)",
            "min(CASE WHEN event_type = 'view' THEN unix_micros(ts) END)",
        )
    )


# --- event-sequence pattern matching (MATCH_RECOGNIZE-style) ---
# The row-pattern-matching feature Trino/Flink expose as MATCH_RECOGNIZE,
# expressed as pure relational algebra: PATTERN (V+ C P) — one or more
# 'view' rows, immediately followed by a 'click', immediately followed
# by a 'purchase', per user in event-time order, with greedy V+ and
# AFTER MATCH SKIP PAST LAST ROW semantics. Maximal view-runs come from
# the gaps-and-islands trick (rn − run-local rn is constant within a
# run), so V+ is greedy and matches can't overlap by construction; the
# C and P legs are equi-joins on the successor positions.
#
# Scale (100 TB): one shuffle by user for the row_number window, then
# the run aggregate and two successor equi-joins all reuse the same
# (user_id) partitioning — co-partitioned, no extra exchanges of the
# event stream; per-user window state is a row counter, not a buffer.

def _pattern_sql(src: str = "events") -> str:
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_type,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS rn
  FROM {src}
),
views AS (
  SELECT user_id, rn, ts,
         rn - CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT)
           AS isl
  FROM ev WHERE event_type = 'view'
),
vruns AS (
  SELECT user_id, isl,
         max(rn) AS rn_last,
         CAST(count(*) AS BIGINT) AS n_views,
         min(ts) AS ts_start
  FROM views GROUP BY user_id, isl
)
SELECT r.user_id, r.n_views, r.ts_start, p.ts AS ts_purchase
FROM vruns r
JOIN ev c ON c.user_id = r.user_id AND c.rn = r.rn_last + 1
         AND c.event_type = 'click'
JOIN ev p ON p.user_id = r.user_id AND p.rn = r.rn_last + 2
         AND p.event_type = 'purchase'
"""


PATTERN_SQL = _pattern_sql()


@register(
    "events_pattern_match",
    oracle=PATTERN_SQL,
    description="MATCH_RECOGNIZE-style row-pattern matching: PATTERN "
    "(view+ click purchase) per user in event order, greedy V+ via "
    "gaps-and-islands maximal runs (matches provably non-overlapping — "
    "SKIP PAST LAST ROW), successor legs as co-partitioned equi-joins; "
    "one shuffle by user_id for the whole match",
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(PATTERN_SQL)


# --- row-pattern matching with EXCLUSION (negation shape) ---
# The second MATCH_RECOGNIZE idiom: "A then B with NO C between" —
# here, each purchase matched to its NEAREST preceding view, qualified
# only when no 'error' event occurred between them. Expressed with
# running windows and zero joins: a cumulative error count, the latest
# preceding view's position, and — because cum_err is MONOTONE
# non-decreasing in rn — the max of cum_err over preceding views IS the
# latest view's cum_err (no packed carries, no overflow bound at any
# per-user event count). One shuffle by user_id; Catalyst evaluates all
# three windows in a single Window node over the same frame.

PATTERN_NEG_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_type,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS rn,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_err
  FROM events
),
carried AS (
  SELECT user_id, ts, event_type, rn, cum_err,
         max(CASE WHEN event_type = 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vrn,
         max(CASE WHEN event_type = 'view' THEN cum_err END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS verr
  FROM ev
)
SELECT user_id,
       vrn AS view_rn,
       rn AS purchase_rn,
       ts AS ts_purchase,
       CAST(rn - vrn - 1 AS BIGINT) AS n_between
FROM carried
WHERE event_type = 'purchase'
  AND vrn IS NOT NULL
  AND cum_err - verr = 0
"""


@register(
    "events_pattern_negation",
    oracle=PATTERN_NEG_SQL,
    description="MATCH_RECOGNIZE exclusion shape: each purchase matched "
    "to its nearest preceding view with NO error between — a cumulative "
    "error count plus preceding-view windows (cum_err monotone in rn, so "
    "max-over-views equals the latest view's count — exact at any event "
    "volume); one user_id shuffle, zero joins",
)
def events_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(PATTERN_NEG_SQL)


# --- EWMA smoothing over daily aggregates ---
# Exponentially-weighted moving average per event_type over the daily
# mean value series — the standard online smoother for monitoring
# metrics. The recurrence ewma_t = α·v_t + (1−α)·ewma_{t−1} folds in
# day order (an ordered fold over ≤ |days| terms — bounded by the
# calendar, not the data), seeded with the first day's value. Daily
# means go through the decimal route first so both engines fold the
# SAME inputs; the fold itself is identical double arithmetic.
# Scale: one (type, day) aggregate (map-side combined); the fold state
# is days·types rows — calendar-bounded. A pow()-weighted closed form
# would avoid the fold but pow() is not cross-engine bit-stable.

EWMA_ALPHA = 0.3


def _ewma_sql(epoch_us: str, collect_series: str, fold: str) -> str:
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
)
SELECT event_type, n_days, {fold} AS ewma
FROM series
"""


# the day-ordered series is collected ONCE per group (one aggregation
# buffer); the recurrence folds over the materialized array column in
# the outer select — seed = first element, fold the tail
_EWMA_SERIES_SPARK = "transform(array_sort(collect_list(struct(day, v))), s -> s.v)"
_EWMA_SERIES_DUCK = "list(v ORDER BY day)"
_EWMA_FOLD_SPARK = (
    "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1), "
    f"(acc, x) -> CAST({EWMA_ALPHA!r}e0 * x + {1 - EWMA_ALPHA!r}e0 * acc AS DOUBLE))"
)
_EWMA_FOLD_DUCK = (
    f"list_reduce(vs, (acc, x) -> {EWMA_ALPHA!r}e0 * x + {1 - EWMA_ALPHA!r}e0 * acc)"
)


@register(
    "timeseries_ewma",
    oracle=_ewma_sql("epoch_us(ts)", _EWMA_SERIES_DUCK, _EWMA_FOLD_DUCK),
    description=f"EWMA (α={EWMA_ALPHA}) per event type over the daily "
    "mean-value series: decimal-routed daily means, then an ordered fold "
    "of the recurrence seeded with the first day — fold state bounded by "
    "the calendar; identical double arithmetic on both engines",
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ewma_sql("unix_micros(ts)", _EWMA_SERIES_SPARK, _EWMA_FOLD_SPARK))


# --- leave-one-out target encoding (feature engineering) ---
# The standard high-cardinality categorical encoder for tabular ML:
# replace a category with the mean target of the OTHER rows in that
# category, shrunk toward the global mean by a smoothing pseudo-count m:
#   enc(row) = (sum_cat − y_row + m·prior) / (n_cat − 1 + m)
# Leave-one-out removes the row's own target from its feature (the
# standard target-leakage guard); m regularizes rare categories.
# Per-category sums and the global prior go through the decimal route
# (exact → bit-stable), after which every row's encoding is plain
# double arithmetic — identical on both engines.
#
# Scale: one (category) aggregate (tiny), broadcast back over the fact
# scan — encoding is map-side; the output here samples 1-in-97 orders
# to keep the parity check bounded (the full encoded table would be a
# written column, not a query result).

TE_SMOOTH = 20.0


def _te_sql() -> str:
    return f"""
WITH stats AS (
  SELECT c_mktsegment AS seg,
         {dsum_expr("o_totalprice")} AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
),
prior AS (
  SELECT {dsum_expr("o_totalprice")} / count(*) AS p FROM orders
)
SELECT o_orderkey, c_mktsegment AS seg,
       (s - o_totalprice + {TE_SMOOTH!r}e0 * p) / (n - 1 + {TE_SMOOTH!r}e0)
         AS target_enc
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN stats ON stats.seg = c_mktsegment
CROSS JOIN prior
WHERE o_orderkey % 97 = 0
"""


@register(
    "feature_target_encoding",
    oracle=_te_sql(),
    description=f"leave-one-out target encoding with m={TE_SMOOTH:.0f} "
    "smoothing: per-category decimal-routed sums + global prior "
    "broadcast back over the scan — encoding is map-side arithmetic; "
    "LOO subtracts the row's own target (the leakage guard); sampled "
    "1-in-97 for the parity check",
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_te_sql())


# --- market-basket association rules (co-occurrence mining) ---
# The a-priori first pass every recommender / cross-sell analysis runs:
# item pairs co-occurring in the same order, scored with
# support = n_ab/N, confidence = n_ab/n_a, lift = n_ab·N/(n_a·n_b).
# All three are ratios of exact int64 counts — bit-deterministic.
#
# Scale (100 TB): the pair fan-out is the hazard — it is quadratic in
# BASKET SIZE, not in data (Σ k_b² over baskets; here avg k≈4 → ~16
# pairs/order). The self-join is an equi-join on the order key over the
# DISTINCT (order, item) grain, and a min-support HAVING prunes the
# pair table before the dimension joins. For pathological mega-baskets
# the standard cap (drop baskets above k_max before pairing) applies —
# same df-cap discipline as the shingle families.

BASKET_MIN_SUPPORT = 3


def _basket_sql() -> str:
    return f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_items AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_i FROM b GROUP BY l_partkey
),
n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b
),
pairs AS (
  SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.item_a, p.item_b, p.n_ab, na.n_i AS n_a, nb.n_i AS n_b,
       CAST(p.n_ab AS DOUBLE) / o.n AS support,
       CAST(p.n_ab AS DOUBLE) / na.n_i AS confidence,
       CAST(p.n_ab AS DOUBLE) * o.n / (na.n_i * nb.n_i) AS lift
FROM pairs p
JOIN n_items na ON na.l_partkey = p.item_a
JOIN n_items nb ON nb.l_partkey = p.item_b
CROSS JOIN n_orders o
"""


@register(
    "basket_association_rules",
    oracle=_basket_sql(),
    description=f"market-basket association rules (support ≥ "
    f"{BASKET_MIN_SUPPORT}): distinct (order, item) grain self-joined on "
    "the order key — fan-out quadratic in basket size, never in data — "
    "min-support HAVING prunes before the dimension joins; "
    "support/confidence/lift are ratios of exact int64 counts",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no cut on the distinct grain: its consumers share one plan, where
    # exchange reuse covers them (an sf0.1 A/B lost 0.4 s with the cut)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_basket_sql())


# --- two-sample Kolmogorov–Smirnov test (distribution drift) ---
# D = max over x of |ECDF_purchase(x) − ECDF_click(x)| — the classic
# nonparametric drift check between two numeric samples, complementing
# the binned PSI (profile_psi_drift) and categorical chi-square
# (stats_chi2_independence): KS is bin-free, so it catches shifts PSI's
# fixed bins blur. Engine-exactness: ECDF numerators/denominators are
# exact integers; each ECDF value is ONE correctly-rounded division and
# the difference/abs/max chain is written identically on both engines.
# Scale shape: the Spark side computes the global running counts with
# operators/ranking.global_running_sums (range-partitioned two-pass
# prefix sums) — NO single-partition window anywhere; the oracle uses a
# plain global window, tractable at oracle scale.

KS_A, KS_B = "purchase", "click"

KS_ORACLE = f"""
WITH pts AS (
  SELECT value AS x,
         sum(CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
  GROUP BY value
),
run AS (
  SELECT x,
         sum(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS r1,
         sum(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS r2
  FROM pts
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM pts),
diffs AS (
  SELECT x, abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2) AS diff
  FROM run, tot
),
dmax AS (SELECT max(diff) AS d_stat FROM diffs)
SELECT t.n1, t.n2, d.d_stat,
       (SELECT min(x) FROM diffs WHERE diff = d.d_stat) AS x_at_d,
       d.d_stat * sqrt(CAST(t.n1 AS DOUBLE) * t.n2 / (t.n1 + t.n2)) AS ks_scaled
FROM tot t, dmax d
"""


@register(
    "stats_ks_test",
    oracle=KS_ORACLE,
    description="two-sample Kolmogorov–Smirnov drift test (purchase vs "
    "click values): bin-free max ECDF gap, plus the √(n1·n2/(n1+n2))-"
    "scaled statistic; Spark side builds the global ECDFs with the "
    "range-partitioned two-pass prefix sums (operators/ranking."
    "global_running_sums) — no single-partition window; exact-integer "
    "counts, one division per ECDF value",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    pts = (
        e.filter(F.col("event_type").isin(KS_A, KS_B))
        .groupBy(F.col("value").alias("x"))
        .agg(
            F.sum(F.when(F.col("event_type") == KS_A, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == KS_B, 1).otherwise(0)).alias("c2"),
        )
    )
    run = global_running_sums(pts, ["x"], ["c1", "c2"])
    tot = pts.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    diffs = run.crossJoin(F.broadcast(tot)).select(
        "x",
        "n1",
        "n2",
        F.abs(
            F.col("run_c1").cast("double") / F.col("n1")
            - F.col("run_c2").cast("double") / F.col("n2")
        ).alias("diff"),
    )
    dmax = diffs.agg(F.max("diff").alias("d_stat"))
    x_at = (
        diffs.crossJoin(F.broadcast(dmax))
        .filter(F.col("diff") == F.col("d_stat"))
        .agg(F.min("x").alias("x_at_d"))
    )
    return (
        tot.crossJoin(dmax)
        .crossJoin(x_at)
        .select(
            "n1",
            "n2",
            "d_stat",
            "x_at_d",
            (
                F.col("d_stat")
                * F.sqrt(F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2")))
            ).alias("ks_scaled"),
        )
    )


# --- marketing attribution (first-touch vs last-touch) ---
# Every purchase's value is credited to the touch channel (view/click/
# signup event type) that FIRST touched the user and, separately, to the
# one that LAST touched before the purchase — the two standard
# single-touch attribution models, whose revenue split per channel is
# the canonical comparison report. One window pass per user ordered by
# (ts, event_id) carries the running first/last touch via IGNORE NULLS
# first_value/last_value (no per-purchase join, no lookback explode);
# purchases with no prior touch credit 'direct'. Revenue sums are
# decimal-routed (queries/parity.py).
# Scale: single shuffle on user_id for the window, then one tiny
# (model, channel) aggregate.

_ATTR_CASE = "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"

# IGNORE NULLS placement differs: Spark takes it AFTER the call
# (`first_value(x) IGNORE NULLS`), DuckDB inside the parens
# (`first_value(x IGNORE NULLS)`).


def _attr_core(inner: str, outer: str) -> str:
    w = ("OVER (PARTITION BY user_id ORDER BY ts, event_id "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""
SELECT * FROM (
  SELECT event_type, value,
         first_value({_ATTR_CASE}{inner}){outer} {w} AS first_touch,
         last_value({_ATTR_CASE}{inner}){outer} {w} AS last_touch
  FROM events
) t WHERE event_type = 'purchase'
"""


def _attribution_sql(inner: str = '', outer: str = ' IGNORE NULLS') -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
WITH purch AS ({_attr_core(inner, outer)})
SELECT model, channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       {dsum_expr("value")} AS revenue
FROM (
  SELECT 'first_touch' AS model, coalesce(first_touch, 'direct') AS channel, value
  FROM purch
  UNION ALL
  SELECT 'last_touch' AS model, coalesce(last_touch, 'direct') AS channel, value
  FROM purch
) m
GROUP BY model, channel
"""


@register(
    "attribution_touch_models",
    oracle=_attribution_sql(inner=' IGNORE NULLS', outer=''),
    description="first-touch vs last-touch revenue attribution: running "
    "IGNORE NULLS first_value/last_value of the touch channel per user "
    "(one window pass, no per-purchase lookback join), purchases with no "
    "prior touch credited 'direct'; decimal-routed revenue sums; one "
    "user-keyed shuffle + a tiny (model, channel) rollup",
)
def attribution_touch_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_attribution_sql())


# --- Welch's two-sample t-test (A/B experiment readout) ---
# The standard unequal-variance mean comparison between two groups
# (purchase vs click values — same samples as stats_ks_test, which
# compares DISTRIBUTIONS; Welch compares MEANS). Parity: Σx and Σx² are
# decimal-exact per group (order-free), means/variances/t are then a
# fixed chain of double ops written identically on both engines; the
# Welch–Satterthwaite df is reported too. No p-value (erf is not in the
# deterministic kernel set); |t| ≫ 2 is the actionable readout.
# Degenerate-input guards (both engines, identical text): variance terms
# are clamped at 0 with greatest() — 1e-6 decimal quantization of sx/sxx
# can make them slightly negative for near-constant data, which would
# sqrt() to NaN — and n=1 groups hit nullif(n-1, 0) so t_stat/welch_df
# come back NULL instead of a silent divide-by-zero; the `degenerate`
# flag column makes such groups visible rather than NaN.
# Scale: one map-side-combinable aggregate per group — two rows of
# state, O(1) driver math.

def _welch_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    stats = """
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         {sx} AS sx,
         {sxx} AS sxx
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type
""".format(sx=dsum_expr("value"), sxx=dsum_expr("value * value"))
    return f"""
WITH stats AS ({stats}),
wide AS (
  SELECT
    max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
    max(CASE WHEN event_type = 'purchase' THEN sx END) AS sx1,
    max(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx1,
    max(CASE WHEN event_type = 'click' THEN n END) AS n2,
    max(CASE WHEN event_type = 'click' THEN sx END) AS sx2,
    max(CASE WHEN event_type = 'click' THEN sxx END) AS sxx2
  FROM stats
),
m AS (
  SELECT n1, n2,
         sx1 / n1 AS mean1, sx2 / n2 AS mean2,
         (greatest(sxx1 - (sx1 * sx1) / n1, 0.0e0) / nullif(n1 - 1, 0)) / n1 AS se1sq,
         (greatest(sxx2 - (sx2 * sx2) / n2, 0.0e0) / nullif(n2 - 1, 0)) / n2 AS se2sq
  FROM wide
)
SELECT n1, n2, mean1, mean2,
       (mean1 - mean2) / nullif(sqrt(se1sq + se2sq), 0.0e0) AS t_stat,
       ((se1sq + se2sq) * (se1sq + se2sq))
         / nullif((se1sq * se1sq) / (n1 - 1) + (se2sq * se2sq) / (n2 - 1), 0.0e0)
         AS welch_df,
       (n1 IS NULL OR n2 IS NULL OR coalesce(n1, 0) < 2 OR coalesce(n2, 0) < 2
        OR coalesce(se1sq, 0.0e0) + coalesce(se2sq, 0.0e0) = 0.0e0) AS degenerate
FROM m
"""


@register(
    "stats_welch_ttest",
    oracle=_welch_sql(),
    description="Welch's unequal-variance two-sample t-test (purchase vs "
    "click values): decimal-exact Σx/Σx² per group, then a fixed chain "
    "of double ops for means, standard errors, t, and the Welch–"
    "Satterthwaite df — bit-identical across engines; one map-side-"
    "combinable aggregate, two rows of state",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_welch_sql())


# --- RFM segmentation (recency / frequency / monetary quintiles) ---
# The classic customer-value segmentation, engine-exact: per user,
# recency (days since last event, vs corpus max), frequency (event
# count) and monetary (decimal-routed purchase revenue), each ranked
# over the total order (metric, user_id) and cut into quintiles
# q = 1 + floor(5·(rank−1)/n). The rank is the distributed two-pass
# ranker (ranking.global_row_number — range repartition + local window
# + partition-offset map; no Exchange SinglePartition), once per
# metric over the per-USER table (|users| rows, not events). The
# quintile arithmetic is small-integer double math, exact on both
# engines; DuckDB replays with three plain row_number() windows.
# Output: one row per (r_q, f_q, m_q) cell with user count and exact
# decimal revenue — the segment matrix a marketing pipeline acts on.

def _rfm_peruser_sql(epoch_us: str) -> str:
    return f"""
WITH mx AS (SELECT max({epoch_us}) AS m FROM events),
peruser AS (
  SELECT user_id, m,
         CAST(floor((m - max({epoch_us})) / 86400000000.0e0) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         coalesce(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(38,6)) END),
                  CAST(0 AS DECIMAL(38,6))) AS monetary
  FROM events CROSS JOIN mx
  GROUP BY user_id, m
)
SELECT user_id, recency_days, frequency, monetary FROM peruser
"""


_RFM_Q = "CAST(floor((5.0e0 * ({r} - 1)) / n) AS BIGINT) + 1"


def _rfm_oracle() -> str:
    rq = _RFM_Q.format(r="rr")
    fq = _RFM_Q.format(r="rf")
    mq = _RFM_Q.format(r="rm")
    return f"""
WITH base AS ({_rfm_peruser_sql("epoch_us(ts)")}),
ranked AS (
  SELECT monetary,
         row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         row_number() OVER (ORDER BY frequency, user_id) AS rf,
         row_number() OVER (ORDER BY monetary, user_id) AS rm,
         count(*) OVER () AS n
  FROM base
)
SELECT {rq} AS r_q, {fq} AS f_q, {mq} AS m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(CAST(sum(monetary) AS STRING) AS DOUBLE) AS total_monetary
FROM ranked
GROUP BY 1, 2, 3
"""


@register(
    "events_rfm_segmentation",
    oracle=_rfm_oracle(),
    description="RFM segmentation: per-user recency/frequency/decimal "
    "monetary, quintiled via the distributed two-pass ranker (three "
    "global ranks over the |users|-row table, no single-partition "
    "window) with q = 1 + floor(5·(rank−1)/n); outputs the "
    "(r_q, f_q, m_q) segment matrix with exact decimal revenue; "
    "oracle = three plain row_number windows over the same per-user "
    "table",
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_row_number

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    users = spark.sql(_rfm_peruser_sql("unix_micros(ts)"))
    n = users.count()  # one driver scalar (like pagerank's node count)
    ranked = global_row_number(users, ["recency_days", "user_id"], out_col="rr")
    ranked = global_row_number(ranked, ["frequency", "user_id"], out_col="rf")
    ranked = global_row_number(ranked, ["monetary", "user_id"], out_col="rm")
    q = _RFM_Q
    return (
        ranked.selectExpr(
            "monetary",
            f"{q.format(r='rr').replace('/ n', f'/ {n}')} AS r_q",
            f"{q.format(r='rf').replace('/ n', f'/ {n}')} AS f_q",
            f"{q.format(r='rm').replace('/ n', f'/ {n}')} AS m_q",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("CAST(CAST(sum(monetary) AS STRING) AS DOUBLE)").alias(
                "total_monetary"
            ),
        )
    )


# --- Mann-Whitney U (rank-sum) two-sample test, tie-corrected ---
# The nonparametric sibling of stats_welch_ttest over the same two
# samples (purchase vs click values): no normality assumption, exactly
# the test a drift monitor runs on skewed metrics. All rank math stays
# in EXACT integers: per distinct value x with group counts (c1, c2)
# and t = c1 + c2, the average rank is cum_before(x) + (t+1)/2, so
# twice the group-A rank sum is Σ c1·(2·cum_before + t + 1) — a BIGINT.
# U₁ = R₁ − n₁(n₁+1)/2, μ = n₁n₂/2, and the tie-corrected variance
# n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))) are then one fixed chain of
# double ops (shared SQL text on both engines → bit-identical z).
#
# Scale: one (value) aggregate with map-side combine, the global
# cumulative count via the range-partitioned two-pass prefix sums
# (operators/ranking.global_running_sums — no single-partition window,
# same as stats_ks_test), then a 4-scalar reduce. The final scalar
# arithmetic runs on ONE row.

_MW_A, _MW_B = "purchase", "click"


def _mw_final_sql(src: str) -> str:
    u1 = ("(CAST(r1_twice AS DOUBLE) - CAST(n1 AS DOUBLE) * "
          "(CAST(n1 AS DOUBLE) + 1.0e0)) / 2.0e0")
    nd = "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    return f"""
SELECT n1, n2,
       {u1} AS u1,
       tie_sum,
       ({u1} - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0e0)
       / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0e0
              * (({nd} + 1.0e0)
                 - CAST(tie_sum AS DOUBLE) / ({nd} * ({nd} - 1.0e0))))
         AS z_stat
FROM {src}
"""


MW_ORACLE = f"""
WITH pts AS (
  SELECT value AS x,
         CAST(sum(CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_type = '{_MW_B}' THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
  GROUP BY value
),
run AS (
  SELECT c1, c2, c1 + c2 AS t,
         sum(c1 + c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS run_t
  FROM pts
),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * (run_t - t) + t + 1)) AS BIGINT) AS r1_twice,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
  FROM run
)
{_mw_final_sql("agg")}
"""


@register(
    "stats_mann_whitney",
    oracle=MW_ORACLE,
    description="tie-corrected Mann-Whitney U (rank-sum) two-sample test "
    "(purchase vs click values): exact-integer rank sums from per-value "
    "group counts + global cumulative counts via the range-partitioned "
    "two-pass prefix sums (no single-partition window), then one fixed "
    "shared-text double chain for U₁ and the tie-corrected z — "
    "bit-identical across engines; the nonparametric sibling of "
    "stats_welch_ttest for skewed drift metrics",
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    pts = (
        e.filter(F.col("event_type").isin(_MW_A, _MW_B))
        .groupBy(F.col("value").alias("x"))
        .agg(
            F.sum(F.when(F.col("event_type") == _MW_A, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == _MW_B, 1).otherwise(0)).alias("c2"),
        )
        .withColumn("t", F.col("c1") + F.col("c2"))
    )
    run = global_running_sums(pts, ["x"], ["t"])
    agg = run.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1") * (2 * (F.col("run_t") - F.col("t")) + F.col("t") + 1)
        ).cast("long").alias("r1_twice"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_sum"),
    )
    agg.createOrReplaceTempView("pls_mw_agg")
    return spark.sql(_mw_final_sql("pls_mw_agg"))


# --- weight-of-evidence (WoE) categorical encoding + information value ---
# The scorecard-standard supervised encoding feature_target_encoding
# doesn't cover: per category i with event count gᵢ and non-event count
# bᵢ, WoE = ln(gᵢ/G) − ln(bᵢ/B) — four EXACT-INTEGER ln() args through
# the deterministic kernel (functions/dmath.py, same discipline as
# text_pmi_collocations), so the encoding is bit-identical across
# engines; IV term = (gᵢ/G − bᵢ/B)·WoE. Domain: order priority vs the
# 'F' (fulfilled) status flag. Categories with an empty cell are
# excluded (WoE undefined there — the standard smoothing variants are a
# modeling choice, not an engine one).
# Scale: one (category) aggregate with map-side combine (category
# cardinality-bounded state), a 1-row totals broadcast, per-row kernel
# math. No data-shaped shuffle.


def _woe_sql() -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    layers, last = dln_int_cte_layers(
        [("g", "wg"), ("b", "wb"), ("gt", "wgt"), ("bt", "wbt")], "w0", "wl"
    )
    woe = "(wg_ln - wgt_ln) - (wb_ln - wbt_ln)"
    return f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS g,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM orders GROUP BY o_orderpriority
),
tot AS (SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt FROM base),
w0 AS (
  SELECT base.category, base.g, base.b, tot.gt, tot.bt
  FROM base CROSS JOIN tot
  WHERE base.g > 0 AND base.b > 0
),
{layers}
SELECT category,
       g AS n_events, b AS n_nonevents,
       {woe} AS woe,
       (CAST(g AS DOUBLE) / CAST(gt AS DOUBLE)
        - CAST(b AS DOUBLE) / CAST(bt AS DOUBLE)) * ({woe}) AS iv_term
FROM {last}
"""


@register(
    "feature_woe_encoding",
    oracle=_woe_sql(),
    description="weight-of-evidence categorical encoding + IV terms "
    "(order priority vs fulfilled-status flag): WoE = ln(g/G) − ln(b/B) "
    "with all four ln args exact integers through the deterministic "
    "integer-ln kernel — bit-identical encoding across engines; one "
    "cardinality-bounded category aggregate + 1-row totals broadcast, "
    "zero data-shaped shuffles",
)
def feature_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_woe_sql())


# --- one-way ANOVA (k-group F test) ---
# The k-group generalization of stats_welch_ttest: does mean(value)
# differ across ALL five event types? Per-group decimal-exact (n, Σx,
# Σx²) — the same sufficient-statistics discipline as Welch (values are
# 2-dp so x² is 4-dp: the decimal route is EXACT) — then the group-
# level sums are decimal-routed AGAIN (5 doubles summed order-free) and
# SSB/SSW/F are one shared-text double chain → bit-identical across
# engines. One map-side-combinable aggregate, k rows of state, 1-row
# output.


def _anova_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         {dsum_expr("value")} AS sx,
         {dsum_expr("value * value")} AS sxx
  FROM events
  GROUP BY event_type
),
g AS (
  SELECT n, sx, sxx,
         sxx - (sx * sx) / CAST(n AS DOUBLE) AS ssw_i,
         (sx * sx) / CAST(n AS DOUBLE) AS sq_i
  FROM stats
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt,
         CAST(count(*) AS BIGINT) AS k,
         {dsum_expr("sx")} AS sxt,
         {dsum_expr("ssw_i")} AS ssw,
         {dsum_expr("sq_i")} AS sq
  FROM g
)
SELECT nt, k,
       sq - (sxt * sxt) / CAST(nt AS DOUBLE) AS ssb,
       ssw,
       (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))
         / (CAST(k AS DOUBLE) - 1.0e0)
         * (sq - (sxt * sxt) / CAST(nt AS DOUBLE)) / ssw AS f_stat
FROM agg
"""


@register(
    "stats_anova_oneway",
    oracle=_anova_sql(),
    description="one-way ANOVA F across all five event types: decimal-"
    "exact per-group (n, Σx, Σx²), group-level sums decimal-routed "
    "again, then one shared-text SSB/SSW/F double chain — bit-identical "
    "across engines; one map-side-combinable aggregate, k rows of "
    "state; the k-group sibling of stats_welch_ttest",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_anova_sql())


# --- Markov stationary distribution (fixed-point power iteration) ---
# Where event_transitions reports the one-step matrix, this iterates it
# to the chain's long-run occupancy — the "where do user journeys
# spend their time" readout. Determinism across engines: the state
# vector lives in INTEGER micro-units (π·10⁶ as BIGINT); each step is
# π'_j = Σ_u round(π_u · p_uj) — the double product is engine-identical
# (p_uj is one correctly-rounded division of exact integers), round()
# on a double is engine-identical, and the BIGINT sum is exact and
# order-free. MARKOV_ITERS unrolled CTE layers over the 25-cell matrix
# (the same unrolled-recurrence oracle pattern as graph_pagerank);
# mass drifts from 10⁶ only by the per-step rounding (≤ k/2 units).
# Scale: the matrix is event-type-bounded (k²), iteration cost is
# O(k²·iters) regardless of data volume; the only data-shaped work is
# the one lag-window pass building the bigram counts. The unrolled plan
# shows ~5 exchanges per step (PLANS.md) — every one carries ≤ k² rows
# (25 here), so the step cost is scheduling latency, not shuffle IO;
# at a larger state space you'd broadcast pmat and fold driver-free.

MARKOV_ITERS = 8


def _markov_sql(us: str) -> str:
    steps = []
    for i in range(1, MARKOV_ITERS + 1):
        steps.append(f"""
r{i} AS (
  SELECT p.next_type AS state,
         CAST(sum(CAST(round(CAST(r.v AS DOUBLE) * p.p) AS BIGINT)) AS BIGINT) AS v
  FROM r{i - 1} r JOIN pmat p ON p.prev_type = r.state
  GROUP BY p.next_type
)""")
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY {us}, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
pmat AS (
  SELECT prev_type, next_type,
         CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
  FROM t
),
states AS (SELECT DISTINCT prev_type AS state FROM pmat),
nstates AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
r0 AS (
  SELECT state, CAST(1000000 / k AS BIGINT) AS v
  FROM states CROSS JOIN nstates
),
{",".join(steps)}
SELECT state AS event_type,
       v AS pi_micro,
       CAST(v AS DOUBLE) / 1.0e6 AS pi
FROM r{MARKOV_ITERS}
"""


@register(
    "events_markov_stationary",
    oracle=_markov_sql("epoch_us(ts)"),
    description=f"Markov stationary distribution by {MARKOV_ITERS} "
    "unrolled fixed-point power-iteration steps over the event-type "
    "transition matrix: state vector in BIGINT micro-units, each step "
    "round(π·p) summed exactly — engine-identical with zero float-sum "
    "order sensitivity; matrix is type-bounded (k²), the only data-"
    "shaped work is the lag-window bigram count",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_markov_sql("unix_micros(ts)"))


# --- Kaplan-Meier survival estimator (time to first purchase) ---
# The missing censoring-aware analytics primitive: per signed-up user,
# duration = days from first signup to first purchase ON OR AFTER it;
# users who never purchase are right-CENSORED at their last observed
# day — exactly what naive "average days to convert" silently throws
# away. Risk table over distinct durations (at-risk n_t via a
# DESCENDING running count), then the product-limit estimator in LOG
# space: ln S(t) = Σ_{s≤t} [ln(n_s−d_s) − ln(n_s)] — both args EXACT
# INTEGERS through the deterministic kernel, and the cumulative sum is
# an ORDERED running window (sequential accumulation in frame order on
# both engines → engine-identical doubles). Log-survival is the
# standard reporting form and keeps the whole chain in the IEEE-exact
# kernel set (no exp anywhere — the same discipline as
# curation_quality_logistic). Steps with n = d (everyone at risk
# converts) would end S at exactly 0 (ln → −∞); they are excluded like
# every KM implementation's plotting cutoff.
# Scale: per-user rollup shuffles once on user_id; the risk table is
# CALENDAR-bounded (≤ distinct duration days), so its windows carry
# bounded state like the EWMA/Holt family.


def _km_sql(epoch_us: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    layers, last = dln_int_cte_layers([("nd", "ks"), ("n", "kn")], "steps", "kml")
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {day} AS day FROM events
),
per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN day END) AS s_day,
         max(day) AS last_day
  FROM ev GROUP BY user_id
),
purch AS (
  SELECT e.user_id, min(e.day) AS p_day
  FROM ev e JOIN per_user u ON u.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.day >= u.s_day
  GROUP BY e.user_id
),
obs AS (
  SELECT u.user_id,
         CASE WHEN p.p_day IS NOT NULL THEN p.p_day - u.s_day
              ELSE u.last_day - u.s_day END AS t,
         CASE WHEN p.p_day IS NOT NULL THEN 1 ELSE 0 END AS ev_flag
  FROM per_user u LEFT JOIN purch p ON p.user_id = u.user_id
  WHERE u.s_day IS NOT NULL
),
risk AS (
  SELECT t,
         CAST(sum(ev_flag) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS m
  FROM obs GROUP BY t
),
atrisk AS (
  SELECT t, d,
         CAST(sum(m) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
  FROM risk
),
steps AS (
  SELECT t, d, n, n - d AS nd FROM atrisk WHERE d > 0 AND n > d
),
{layers}
SELECT t AS duration_days, n AS n_at_risk, d AS d_events,
       sum(ks_ln - kn_ln) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
         AS ln_survival
FROM {last}
"""


@register(
    "events_survival_km",
    oracle=_km_sql("epoch_us(ts)"),
    description="Kaplan-Meier product-limit estimator for days-to-first-"
    "purchase with right-censoring at last observed day: at-risk counts "
    "via a descending running window over the CALENDAR-bounded risk "
    "table, ln S(t) as an ordered running sum of exact-integer kernel "
    "lns — engine-identical log-survival with no exp/ln libm calls "
    "anywhere; one user_id shuffle + calendar-bounded windows",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_km_sql("unix_micros(ts)"))


# --- two-proportion z-test (A/B conversion) ---
# The experimentation staple the stats family lacked: do clickers and
# viewers convert at different rates? Conversion is WINDOWED — a
# purchase within 7 days AFTER the user's FIRST exposure to the
# variant event — because lifetime "ever purchased" saturates to 100%
# on an active corpus and degenerates the pooled variance (observed:
# p̂=1 → divide-by-zero; same failure class as Welch's degenerate
# groups, guarded the same way with nullif + a degenerate flag).
# Exposure/conversion counts are exact integers from one user-grain
# aggregate + one windowed join back to events (co-shuffled on
# user_id); the pooled-variance z is one fixed shared-text double
# chain.

_AB_A, _AB_B = "click", "view"
_AB_WINDOW_US = 7 * 86400 * 1_000_000


def _prop_ztest_sql(us: str) -> str:
    phat = "(CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {us} AS us FROM events
),
per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = '{_AB_A}' THEN us END) AS a_us,
         min(CASE WHEN event_type = '{_AB_B}' THEN us END) AS b_us
  FROM ev
  GROUP BY user_id
),
conv AS (
  SELECT u.user_id,
         CASE WHEN u.a_us IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN u.b_us IS NOT NULL THEN 1 ELSE 0 END AS in_b,
         max(CASE WHEN e.event_type = 'purchase' AND e.us >= u.a_us
                   AND e.us < u.a_us + {_AB_WINDOW_US} THEN 1 ELSE 0 END) AS conv_a,
         max(CASE WHEN e.event_type = 'purchase' AND e.us >= u.b_us
                   AND e.us < u.b_us + {_AB_WINDOW_US} THEN 1 ELSE 0 END) AS conv_b
  FROM per_user u LEFT JOIN ev e ON e.user_id = u.user_id
  GROUP BY u.user_id, u.a_us, u.b_us
),
wide AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n1,
         CAST(sum(in_a * conv_a) AS BIGINT) AS x1,
         CAST(sum(in_b) AS BIGINT) AS n2,
         CAST(sum(in_b * conv_b) AS BIGINT) AS x2
  FROM conv
)
SELECT n1, x1, n2, x2,
       CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
       CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
       (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / nullif(sqrt({phat} * (1.0e0 - {phat})
              * (1.0e0 / CAST(n1 AS DOUBLE) + 1.0e0 / CAST(n2 AS DOUBLE))), 0.0e0)
         AS z_stat,
       (n1 = 0 OR n2 = 0 OR x1 + x2 = 0 OR x1 + x2 = n1 + n2) AS degenerate
FROM wide
"""


@register(
    "stats_proportion_ztest",
    oracle=_prop_ztest_sql("epoch_us(ts)"),
    description="two-proportion z-test on 7-day windowed conversion "
    "(first click vs first view exposure -> purchase within the "
    "window): exact-integer counts from one user-grain aggregate + one "
    "user_id-co-shuffled windowed join, pooled-variance z as a fixed "
    "shared-text double chain with Welch-style degenerate guards - "
    "bit-identical across engines; the A/B readout next to "
    "Welch/Mann-Whitney",
)
def stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_prop_ztest_sql("unix_micros(ts)"))


# --- Spearman rank correlation (tie-corrected, via average ranks) ---
# Monotone-association sibling of the Pearson r in stats_regression:
# per user, x = click count and y = purchase count; Spearman rho is
# Pearson on the AVERAGE ranks of x and y. All rank math stays in
# EXACT integers by carrying 2·rank: per distinct value with count c,
# 2·avg_rank = 2·cum_before + c + 1 (a BIGINT), and Pearson is
# scale-invariant, so rho computed on the doubled ranks IS rho on the
# ranks. The five Pearson sufficient statistics (n, Σrx, Σry, Σrx²,
# Σry², Σrx·ry) are DECIMAL(38,0)-exact (products reach ~4e18 per row
# at 1e9 users — decimal, not BIGINT, carries the sum), and the final
# rho is one fixed shared-text double chain — bit-identical across
# engines.
#
# Scale: one user-grain aggregate (co-shuffled on user_id), two
# value-grouped rank tables whose size is bounded by the DISTINCT
# count-values (≪ users; broadcast back), and a 1-row reduce. The
# global cumulative counts use the range-partitioned two-pass prefix
# sums (operators/ranking.global_running_sums) on the Spark side — no
# single-partition window touches user-shaped data.

_SP_X, _SP_Y = "click", "purchase"


def _spearman_final_sql(src: str) -> str:
    n = "CAST(n AS DOUBLE)"
    return f"""
SELECT n,
       (({n} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt(({n} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * ({n} * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         AS spearman_rho
FROM {src}
"""


SPEARMAN_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = '{_SP_X}' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = '{_SP_Y}' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
gx AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c,
         sum(count(*)) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS run_c
  FROM u GROUP BY x
),
rx AS (SELECT x, 2 * (run_c - c) + c + 1 AS r2x FROM gx),
gy AS (
  SELECT y, CAST(count(*) AS BIGINT) AS c,
         sum(count(*)) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS run_c
  FROM u GROUP BY y
),
ry AS (SELECT y, 2 * (run_c - c) + c + 1 AS r2y FROM gy),
j AS (
  SELECT rx.r2x, ry.r2y
  FROM u JOIN rx ON rx.x = u.x JOIN ry ON ry.y = u.y
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(r2x AS DECIMAL(38,0))) AS STRING) AS sx,
         CAST(sum(CAST(r2y AS DECIMAL(38,0))) AS STRING) AS sy,
         CAST(sum(CAST(r2x AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(18,0))) AS STRING) AS sxx,
         CAST(sum(CAST(r2y AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(18,0))) AS STRING) AS syy,
         CAST(sum(CAST(r2x AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(18,0))) AS STRING) AS sxy
  FROM j
)
{_spearman_final_sql("agg")}
"""


@register(
    "stats_spearman_corr",
    oracle=SPEARMAN_ORACLE,
    description="tie-corrected Spearman rank correlation between "
    "per-user click and purchase counts: average ranks carried as "
    "exact-integer doubled ranks (2·cum_before + c + 1) from "
    "value-grouped counts + two-pass global prefix sums, Pearson "
    "sufficient statistics in DECIMAL(38,0), final rho one shared-text "
    "double chain — bit-identical across engines; rank tables bounded "
    "by distinct count-values, no single-partition window",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == _SP_X, 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == _SP_Y, 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    # shared: both rank2 calls (each runs its own offsets job) and the join
    cut(u).createOrReplaceTempView("pls_sp_u")
    u = spark.table("pls_sp_u")

    def rank2(col: str) -> DataFrame:
        g = u.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        run = global_running_sums(g, [col], ["c"])
        return run.select(
            F.col(col),
            (2 * (F.col("run_c") - F.col("c")) + F.col("c") + 1).alias(f"r2{col}"),
        )

    j = (
        u.join(F.broadcast(rank2("x")), "x")
        .join(F.broadcast(rank2("y")), "y")
        .select("r2x", "r2y")
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r2x").cast("decimal(38,0)")).cast("string").alias("sx"),
        F.sum(F.col("r2y").cast("decimal(38,0)")).cast("string").alias("sy"),
        F.sum(
            F.col("r2x").cast("decimal(38,0)") * F.col("r2x").cast("decimal(18,0)")
        ).cast("string").alias("sxx"),
        F.sum(
            F.col("r2y").cast("decimal(38,0)") * F.col("r2y").cast("decimal(18,0)")
        ).cast("string").alias("syy"),
        F.sum(
            F.col("r2x").cast("decimal(38,0)") * F.col("r2y").cast("decimal(18,0)")
        ).cast("string").alias("sxy"),
    )
    agg.createOrReplaceTempView("pls_sp_agg")
    return spark.sql(_spearman_final_sql("pls_sp_agg"))


# --- Kruskal-Wallis H (k-group rank test, tie-corrected) ---
# The k-group generalization of stats_mann_whitney, and the
# nonparametric sibling of stats_anova_oneway over the same five
# event-type groups: does the VALUE distribution differ across types,
# without the normality assumption? Same exact-integer rank machinery
# as Mann-Whitney: per distinct value with per-group counts c_g and
# t = Σc_g, doubled average rank r2 = 2·cum_before + t + 1; the five
# doubled rank sums R2_g = Σ c_g·r2 and the tie sum Σ(t³−t) are
# BIGINT-exact; then with R_g = R2_g/2,
#   H = [12/(N(N+1))·Σ R_g²/n_g − 3(N+1)] / [1 − Σ(t³−t)/(N³−N)]
# is one fixed shared-text double chain — bit-identical across engines.
#
# Scale: one (value) aggregate with map-side combine (state bounded by
# distinct values), the global cumulative count via the two-pass
# range-partitioned prefix sums, then a k-row reduce. No
# single-partition window.

_KW_GROUPS = ("view", "click", "purchase", "error", "signup")


def _kw_final_sql(src: str) -> str:
    nd = "CAST(nt AS DOUBLE)"
    rterm = " + ".join(
        f"(CAST(r2_{g} AS DOUBLE) / 2.0e0) * (CAST(r2_{g} AS DOUBLE) / 2.0e0)"
        f" / CAST(n_{g} AS DOUBLE)"
        for g in _KW_GROUPS
    )
    return f"""
SELECT nt, tie_sum,
       (12.0e0 / ({nd} * ({nd} + 1.0e0)) * ({rterm}) - 3.0e0 * ({nd} + 1.0e0))
       / (1.0e0 - CAST(tie_sum AS DOUBLE) / ({nd} * {nd} * {nd} - {nd}))
         AS h_stat
FROM {src}
"""


def _kw_oracle_sql() -> str:
    cg = ",\n         ".join(
        f"CAST(sum(CASE WHEN event_type = '{g}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{g}"
        for g in _KW_GROUPS
    )
    t = " + ".join(f"c_{g}" for g in _KW_GROUPS)
    sums = ",\n         ".join(
        f"CAST(sum(c_{g}) AS BIGINT) AS n_{g},\n         "
        f"CAST(sum(c_{g} * (2 * (run_t - t) + t + 1)) AS BIGINT) AS r2_{g}"
        for g in _KW_GROUPS
    )
    return f"""
WITH pts AS (
  SELECT value AS x,
         {cg}
  FROM events
  GROUP BY value
),
run AS (
  SELECT *, {t} AS t,
         sum({t}) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS run_t
  FROM pts
),
agg AS (
  SELECT CAST(sum(t) AS BIGINT) AS nt,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum,
         {sums}
  FROM run
)
{_kw_final_sql("agg")}
"""


@register(
    "stats_kruskal_wallis",
    oracle=_kw_oracle_sql(),
    description="tie-corrected Kruskal-Wallis H across all five event "
    "types: exact-integer doubled rank sums per group from one "
    "(value)-grouped aggregate + two-pass global prefix sums, tie sum "
    "Σ(t³−t) BIGINT-exact, H one shared-text double chain — "
    "bit-identical across engines; the k-group sibling of "
    "stats_mann_whitney next to stats_anova_oneway",
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    pts = e.groupBy(F.col("value").alias("x")).agg(
        *[
            F.sum(F.when(F.col("event_type") == g, 1).otherwise(0))
            .cast("long")
            .alias(f"c_{g}")
            for g in _KW_GROUPS
        ]
    )
    t = sum(F.col(f"c_{g}") for g in _KW_GROUPS)
    run = global_running_sums(pts.withColumn("t", t.cast("long")), ["x"], ["t"])
    aggs = [
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_sum"),
    ]
    for g in _KW_GROUPS:
        aggs.append(F.sum(f"c_{g}").cast("long").alias(f"n_{g}"))
        aggs.append(
            F.sum(
                F.col(f"c_{g}")
                * (2 * (F.col("run_t") - F.col("t")) + F.col("t") + 1)
            ).cast("long").alias(f"r2_{g}")
        )
    agg = run.agg(*aggs)
    agg.createOrReplaceTempView("pls_kw_agg")
    return spark.sql(_kw_final_sql("pls_kw_agg"))


# --- peak concurrency (interval overlap counting) ---
# "How many sessions were live at once, per day?" — the capacity
# question sessionization alone doesn't answer, and the classic
# interval-overlap sweep: sessionize per user (30-min gap, the same
# rule as window_sessionize), take each session's [start, end] span
# (closed — a one-event session still counts at its instant), emit
# +starts/−ends, and sweep a running balance over time. Ends at
# timestamp t subtract AFTER starts at t (closed-interval semantics),
# so the per-timestamp peak candidate is
#   run_starts(≤t) − (run_ends(≤t) − ends(t))
# — exact integers throughout. Per day, report the max balance and
# session count. Bit-identical across engines (no floats anywhere).
#
# Scale: sessionization windows are per-user partitions (user-bounded
# state); boundary events collapse to one row per distinct timestamp,
# and the global cumulative counts use the range-partitioned two-pass
# prefix sums (operators/ranking.global_running_sums) — no
# single-partition window over data-shaped input.

CONCUR_GAP_US = 1_800_000_000


def _concurrency_final_sql(src: str) -> str:
    return f"""
SELECT CAST(floor(CAST(t AS DOUBLE) / 86400000000.0e0) AS BIGINT) AS day,
       CAST(max(run_plus - (run_minus - minus)) AS BIGINT) AS peak_concurrency,
       CAST(sum(plus) AS BIGINT) AS sessions_started
FROM {src}
GROUP BY 1
"""


def _concurrency_oracle_sql() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              > {CONCUR_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, t,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ev
),
spans AS (
  SELECT user_id, session_no,
         CAST(min(t) AS BIGINT) AS t_start, CAST(max(t) AS BIGINT) AS t_end
  FROM sess GROUP BY user_id, session_no
),
bounds AS (
  SELECT t, CAST(sum(plus) AS BIGINT) AS plus, CAST(sum(minus) AS BIGINT) AS minus
  FROM (
    SELECT t_start AS t, 1 AS plus, 0 AS minus FROM spans
    UNION ALL
    SELECT t_end AS t, 0 AS plus, 1 AS minus FROM spans
  )
  GROUP BY t
),
run AS (
  SELECT t, plus, minus,
         sum(plus) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS run_plus,
         sum(minus) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS run_minus
  FROM bounds
)
{_concurrency_final_sql("run")}
"""


@register(
    "events_peak_concurrency",
    oracle=_concurrency_oracle_sql(),
    description="peak concurrent sessions per day (interval-overlap "
    "sweep): 30-min-gap sessionization, closed [start,end] spans, "
    "+start/−end boundary rows collapsed per distinct timestamp, "
    "running balance via two-pass global prefix sums with ends "
    "subtracting after starts at equal t — exact integers throughout, "
    "bit-identical across engines; the capacity readout on top of "
    "window_sessionize",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    gap = F.col("t") - F.lag("t").over(w)
    sess = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > CONCUR_GAP_US), 1).otherwise(0)
    ).withColumn(
        "session_no",
        F.sum("is_new").over(
            W.partitionBy("user_id").orderBy("t").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    spans = sess.groupBy("user_id", "session_no").agg(
        F.min("t").cast("long").alias("t_start"),
        F.max("t").cast("long").alias("t_end"),
    )
    bounds = (
        spans.select(F.col("t_start").alias("t"), F.lit(1).alias("plus"),
                     F.lit(0).alias("minus"))
        .unionAll(
            spans.select(F.col("t_end").alias("t"), F.lit(0).alias("plus"),
                         F.lit(1).alias("minus"))
        )
        .groupBy("t")
        .agg(F.sum("plus").cast("long").alias("plus"),
             F.sum("minus").cast("long").alias("minus"))
    )
    run = global_running_sums(bounds, ["t"], ["plus", "minus"])
    run.createOrReplaceTempView("pls_concur_run")
    return spark.sql(_concurrency_final_sql("pls_concur_run"))


# --- randomization (permutation) test for the two-sample mean gap ---
# Resampling inference at engine scale: is the purchase-vs-click mean
# gap explained by chance? B=64 deterministic label randomizations
# (md5 parity keyed by event_id × replicate — an exchangeability test
# with binomial group sizes, the hash-parallelizable variant of the
# classic permutation test), each replicate's mean gap from
# decimal-routed conditional sums, two-sided p = (1 + #{|gap_b| ≥
# |gap_obs|}) / (B + 1). Everything before the final chain is exact
# (decimal sums, integer counts); the gap/compare chain is shared
# text — bit-identical across engines. A replicate with an empty side
# (P(2·2^−n) at group sizes in the thousands) counts as extreme —
# conservative, never a divide-by-zero. The distribution-free
# companion to stats_welch_ttest / stats_mann_whitney.
#
# Scale: the B-fold replicate fanout is MAP-SIDE (rows × B feeding a
# (b)-grouped aggregate with map-side combine — shuffle state is B
# rows of sufficient statistics, never data-shaped); the observed gap
# is one more tiny aggregate. B is the constant a 100 TB run tunes.

PERM_B = 64
_PERM_GA, _PERM_GB = "purchase", "click"


def _perm_test_sql(h_bit: str, range_b: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    gap_obs = "(o.sa / CAST(o.na AS DOUBLE) - o.sb / CAST(o.nb AS DOUBLE))"
    gap_rep = "(r.sa / CAST(r.na AS DOUBLE) - r.sb / CAST(r.nb AS DOUBLE))"
    extreme = (
        f"CASE WHEN r.na = 0 OR r.nb = 0 THEN 1 "
        f"WHEN abs({gap_rep}) >= abs({gap_obs}) THEN 1 ELSE 0 END"
    )
    return f"""
WITH pts AS (
  SELECT event_id, value FROM events
  WHERE event_type IN ('{_PERM_GA}', '{_PERM_GB}')
),
obs AS (
  SELECT CAST(sum(CASE WHEN event_type = '{_PERM_GA}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN event_type = '{_PERM_GB}' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         {dsum_expr(f"CASE WHEN event_type = '{_PERM_GA}' THEN value ELSE NULL END")} AS sa,
         {dsum_expr(f"CASE WHEN event_type = '{_PERM_GB}' THEN value ELSE NULL END")} AS sb
  FROM events
  WHERE event_type IN ('{_PERM_GA}', '{_PERM_GB}')
),
long AS (
  SELECT p.value, r.b, CAST(({h_bit}) % 2 AS BIGINT) AS bit
  FROM pts p CROSS JOIN {range_b} r
),
reps AS (
  SELECT b,
         CAST(sum(bit) AS BIGINT) AS na,
         CAST(sum(1 - bit) AS BIGINT) AS nb,
         {dsum_expr("CASE WHEN bit = 1 THEN value ELSE NULL END")} AS sa,
         {dsum_expr("CASE WHEN bit = 0 THEN value ELSE NULL END")} AS sb
  FROM long
  GROUP BY b
)
SELECT o.na, o.nb,
       {gap_obs} AS gap_obs,
       CAST({PERM_B} AS BIGINT) AS b_total,
       CAST(sum({extreme}) AS BIGINT) AS n_extreme,
       (1.0e0 + CAST(sum({extreme}) AS DOUBLE)) / ({float(PERM_B)!r}e0 + 1.0e0)
         AS p_value
FROM reps r CROSS JOIN obs o
GROUP BY o.na, o.nb, o.sa, o.sb
"""


@register(
    "stats_permutation_test",
    oracle=_perm_test_sql(
        md5_int_duck(
            "concat(CAST(p.event_id AS VARCHAR), '_', CAST(r.b AS VARCHAR))",
            salt="perm",
        ),
        f"(SELECT r AS b FROM range(0, {PERM_B}) t(r))",
    ),
    description=f"two-sided randomization test (B={PERM_B} md5-keyed "
    "label randomizations) for the purchase-vs-click mean gap: "
    "replicate gaps from decimal-routed conditional sums over a "
    "map-side B-fold fanout (shuffle state = B sufficient-statistic "
    "rows, never data-shaped), p = (1+extreme)/(B+1), empty-side "
    "replicates counted extreme — bit-identical across engines; the "
    "distribution-free companion to Welch/Mann-Whitney",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _perm_test_sql(
            md5_int_spark(
                "concat(CAST(p.event_id AS STRING), '_', CAST(r.b AS STRING))",
                salt="perm",
            ),
            f"(SELECT explode(sequence(0, {PERM_B - 1})) AS b)",
        )
    )


# --- Levene / Brown-Forsythe variance-homogeneity test ---
# The gatekeeper for the ANOVA above it: one-way ANOVA assumes equal
# group variances, and Brown-Forsythe's W is the robust way to check
# (classic Levene centers on the mean; centering on the MEDIAN keeps the
# test honest under skew, per Brown & Forsythe 1974). W is the ANOVA F
# statistic computed on z_gi = |x_gi - median_g|:
#   W = ((N-k)/(k-1)) * SUM_g n_g (zbar_g - zbar)^2 / SUM_g SUM_i (z_gi - zbar_g)^2.
# Parity: medians interpolate (a+b)/2 identically on both engines (both
# sort the same doubles — the Theil-Sen precedent); z and z*z are
# EXACTLY representable at <=6 decimals (2-dp values, 3-dp medians), so
# the default scale-6 decimal route is an exact cast on both engines —
# scale 3 would sit BELOW the data's intrinsic 4-decimal resolution and
# hit exact half-way ties on ~10% of rows, where Spark (shortest-repr
# HALF_UP) and DuckDB (binary-expansion nearest) systematically diverge
# (measured +0.5/group at sf0.1; see queries/parity.py). The 5-row
# second-level sums are full-entropy doubles over FIVE rows — scale 3
# keeps their half-ulp hazard ~1e-3 even at sf10 magnitudes while
# keeping the quantization ~1e-9 relative at sf0.001 (scale 0 cost
# 2e-5 relative there, caught by the replay test). The assembled W is
# one shared-text double chain — bit-identical across engines.
#
# Scale: per-group median via a (event_type) aggregate (group count is
# small and fixed — single-reducer median per group is k-bounded, not
# data-bounded... and Spark's median() is an ObjectHashAggregate with
# per-group state; with k=5 groups the state is 5 value buffers, the
# sanctioned pattern for fixed-cardinality groups only), one broadcast
# join of the k medians back onto the fact table, then one map-side-
# combinable (event_type) aggregate. No data-shaped shuffle beyond the
# one grouped pass.


def _levene_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    zbar_g = "g.sz / CAST(g.n AS DOUBLE)"
    zbar = "t.szt / CAST(t.nt AS DOUBLE)"
    return f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_type, abs(e.value - m.med) AS z
  FROM events e JOIN med m ON m.event_type = e.event_type
),
grp AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {dsum_expr("z")} AS sz,
         {dsum_expr("z * z")} AS szz
  FROM z GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
         {dsum_expr("sz", 3)} AS szt  -- full-entropy 5-row sum: scale 3
  FROM grp
),
parts AS (
  SELECT
    {dsum_expr(f"CAST(g.n AS DOUBLE) * ({zbar_g} - {zbar}) * ({zbar_g} - {zbar})", 3)} AS num,
    {dsum_expr(f"g.szz - g.sz * g.sz / CAST(g.n AS DOUBLE)", 3)} AS den
  FROM grp g CROSS JOIN tot t
)
SELECT t.nt, t.k,
       (CAST(t.nt - t.k AS DOUBLE) / CAST(nullif(t.k - 1, 0) AS DOUBLE))
         * p.num / nullif(p.den, 0.0e0)
         AS w_stat
FROM parts p CROSS JOIN tot t
"""


@register(
    "stats_levene_bf",
    oracle=_levene_sql(),
    description="Brown-Forsythe (median-centered Levene) variance-"
    "homogeneity W across the five event types — the assumption check "
    "for stats_anova_oneway: per-group medians broadcast back onto the "
    "fact table, absolute deviations decimal-routed at scale 3, the "
    "k-row recombination decimal-routed at scale 0, W one shared-text "
    "double chain — bit-identical across engines; one data-shaped "
    "grouped pass total",
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_levene_sql())


# --- Jarque-Bera normality test (quantized-moment route) ---
# Skewness/kurtosis-based normality screen per event type:
#   JB = n/6 * (S^2 + (K-3)^2/4),  S = m3/m2^1.5,  K = m4/m2^2.
# Raw double power sums can NEVER be made engine-stable at this
# magnitude (v^4 ~ 1e23 puts the decimal-cast half-ulp hazard at ~1e3
# expected disagreements per sf0.1 — see queries/parity.py), so the
# engine-exact route QUANTIZES FIRST: y = round(value*1e3) as BIGINT
# (round-half-away-from-zero on both engines, exact), then all four
# power sums are INTEGER-EXACT in DECIMAL — y <= ~5.6e5 at DECIMAL(19,0),
# y^2 <= 3.2e11 exact in BIGINT then DECIMAL(19,0) — 19 digits, not 18,
# because DuckDB executes DECIMAL(<=18) multiplies in int64 storage and
# overflows at ~1e18 (probed); 19 forces int128 on DuckDB while Spark
# widens 19*19 to DECIMAL(38,0) — squares/cross products are exact
# DECIMAL(38,0) on both: exact
# and associative at any partition order, through 1e8 rows with 1e15
# headroom. Skew and kurtosis are SCALE-INVARIANT, so the 1e3 quantum
# cancels — no rescaling anywhere — and the result is the exact JB of
# the quantized values (quantization displaces value by <=5e-4 relative
# ~1e2 magnitudes; documented, deterministic, identical on both
# engines). Central-moment assembly + JB is one shared-text double
# chain over STRING-cast exact sums (the >2^53-safe decimal->double
# route), with sqrt(m2)*m2 instead of pow(m2,1.5) (sqrt is IEEE
# correctly-rounded on both; pow is not guaranteed).
#
# Scale: ONE map-side-combinable (event_type) aggregate over the fact
# table — 4 decimal sums + a count per group, nothing else.


def _jb_sql() -> str:
    y = "CAST(round(value * 1.0e3) AS BIGINT)"
    ssum = "CAST(CAST(sum({x}) AS STRING) AS DOUBLE)"
    m1 = "(s1 / nd)"
    m2 = f"(s2 / nd - {m1} * {m1})"
    m3 = f"(s3 / nd - 3.0e0 * {m1} * s2 / nd + 2.0e0 * {m1} * {m1} * {m1})"
    m4 = (
        f"(s4 / nd - 4.0e0 * {m1} * s3 / nd"
        f" + 6.0e0 * {m1} * {m1} * s2 / nd"
        f" - 3.0e0 * {m1} * {m1} * {m1} * {m1})"
    )
    return f"""
WITH q AS (
  SELECT event_type, {y} AS yq FROM events
),
p AS (
  SELECT event_type, CAST(yq AS DECIMAL(19,0)) AS y1,
         CAST(yq * yq AS DECIMAL(19,0)) AS y2
  FROM q
),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {ssum.format(x="y1")} AS s1,
         {ssum.format(x="y2")} AS s2,
         {ssum.format(x="y1 * y2")} AS s3,
         {ssum.format(x="y2 * y2")} AS s4
  FROM p GROUP BY event_type
),
m AS (
  SELECT event_type, n, CAST(n AS DOUBLE) AS nd, s1, s2, s3, s4
  FROM s
),
c AS (
  SELECT event_type, n, nd,
         {m2} AS m2, {m3} AS m3, {m4} AS m4
  FROM m
)
SELECT event_type, n,
       m3 / nullif(sqrt(m2) * m2, 0.0e0) AS skewness,
       m4 / nullif(m2 * m2, 0.0e0) - 3.0e0 AS ex_kurtosis,
       nd / 6.0e0 * ((m3 / nullif(sqrt(m2) * m2, 0.0e0))
           * (m3 / nullif(sqrt(m2) * m2, 0.0e0))
         + (m4 / nullif(m2 * m2, 0.0e0) - 3.0e0)
           * (m4 / nullif(m2 * m2, 0.0e0) - 3.0e0) / 4.0e0)
         AS jb_stat
FROM c
"""


@register(
    "stats_jarque_bera",
    oracle=_jb_sql(),
    description="Jarque-Bera normality screen (skewness + excess "
    "kurtosis) per event type via INTEGER-EXACT quantized power sums — "
    "round(value*1e3) BIGINT, four decimal power sums exact at any "
    "partition order through 1e8 rows, string-cast >2^53-safe "
    "decimal->double, sqrt(m2)*m2 not pow — bit-identical across "
    "engines; one map-side-combinable grouped pass",
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_jb_sql())


# --- Kendall tau-b rank correlation (daily trend monotonicity) ---
# The concordance twin of stats_spearman_corr: per event type, tau-b
# between day index and the day's decimal-routed mean value. With the
# index strictly increasing, every i<j pair is concordant iff v_j>v_i,
# discordant iff v_j<v_i, tied iff equal (exact double equality of
# engine-exact inputs):
#   tau_b = (C - D) / sqrt((n0 - t_v) * n0),   n0 = n(n-1)/2
# (no index ties, so the second correction term is exactly n0). Counts
# are BIGINT-exact; one sqrt + one division of integer-derived doubles
# — bit-identical across engines.
#
# Scale: the pair join is per-type and CALENDAR-bounded (~30 days ->
# ~435 pairs/type regardless of row volume); the daily aggregate
# underneath has map-side combine. Same scale shape as Theil-Sen.


def _kendall_sql(epoch_us: str) -> str:
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
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
pairs AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) AS BIGINT) AS tv
  FROM idx a JOIN idx b ON b.event_type = a.event_type AND b.i > a.i
  GROUP BY a.event_type
),
nn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM idx GROUP BY event_type
)
SELECT nn.event_type, nn.n_days, p.c AS concordant, p.d AS discordant,
       CAST(p.c - p.d AS DOUBLE)
       / nullif(sqrt((CAST(nn.n_days * (nn.n_days - 1) AS DOUBLE) / 2.0e0
               - CAST(p.tv AS DOUBLE))
              * (CAST(nn.n_days * (nn.n_days - 1) AS DOUBLE) / 2.0e0)), 0.0e0)
         AS tau_b
FROM nn JOIN pairs p ON p.event_type = nn.event_type
"""


@register(
    "stats_kendall_tau",
    oracle=_kendall_sql("epoch_us(ts)"),
    description="Kendall tau-b between day index and decimal-routed "
    "daily mean per event type: BIGINT-exact concordant/discordant/tie "
    "counts over the calendar-bounded pair join (~435 pairs/type "
    "independent of row volume), one sqrt + one division — bit-identical "
    "across engines; the concordance twin of stats_spearman_corr",
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_kendall_sql("unix_micros(ts)"))


# --- generalized ESD outlier rounds (iterative max-deviation removal) ---
# The iterative upgrade of anomaly_zscore: a single z-pass misses masked
# outliers (two extremes inflate the sd and hide each other), so
# generalized ESD (Rosner 1983) removes the single most extreme point,
# RECOMPUTES mean/sd on the remainder, and repeats — ESD_ROUNDS=3 rounds
# here, emitting per round and event type the removed point and its
#   R_r = max_i |x_i − x̄| / s
# over the surviving set. Means/sds come from decimal-routed sums of
# value and value² (2-dp data: the scale-6 casts are EXACT on both
# engines); each round's argmax is found with two aggregates — a
# map-side-combinable per-type max(R), then min(event_id) among rows
# attaining it (exact double equality of engine-identical R values) —
# never a data-shaped single-partition window. Bit-identical across
# engines.
#
# Scale: per round, two grouped aggregates + one anti-join on the
# removed (type, id) pair — 3 rounds = a fixed pipeline of
# map-side-combinable passes; removal state is ROUNDS-bounded, not
# data-bounded. The oracle materializes each round's survivor set
# (DuckDB inlines CTEs; round chains compound references).

ESD_ROUNDS = 3


def _esd_sql(mat: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    mean = "s.sz / CAST(s.n AS DOUBLE)"
    sd = (
        f"nullif(sqrt((s.szz - s.sz * s.sz / CAST(s.n AS DOUBLE))"
        f" / CAST(nullif(s.n - 1, 0) AS DOUBLE)), 0.0e0)"
    )
    parts = [
        "b1 AS (SELECT event_type, event_id, value FROM events)",
    ]
    finals = []
    for r in range(1, ESD_ROUNDS + 1):
        parts.append(
            f"""s{r} AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         {dsum_expr("value")} AS sz, {dsum_expr("value * value")} AS szz
  FROM b{r} GROUP BY event_type
)"""
        )
        parts.append(
            f"""d{r} AS {mat}(
  SELECT b.event_type, b.event_id,
         abs(b.value - {mean}) / {sd} AS r
  FROM b{r} b JOIN s{r} s ON s.event_type = b.event_type
)"""
        )
        parts.append(
            f"""m{r} AS (
  SELECT event_type, max(r) AS mr FROM d{r} GROUP BY event_type
)"""
        )
        parts.append(
            f"""p{r} AS {mat}(
  SELECT d.event_type, CAST(min(d.event_id) AS BIGINT) AS event_id,
         max(d.r) AS r_stat
  FROM d{r} d JOIN m{r} m ON m.event_type = d.event_type AND d.r = m.mr
  GROUP BY d.event_type
)"""
        )
        finals.append(
            f"SELECT CAST({r} AS INT) AS round, event_type, event_id, r_stat FROM p{r}"
        )
        if r < ESD_ROUNDS:
            parts.append(
                f"""b{r + 1} AS {mat}(
  SELECT b.event_type, b.event_id, b.value
  FROM b{r} b LEFT JOIN p{r} p
    ON p.event_type = b.event_type AND p.event_id = b.event_id
  WHERE p.event_id IS NULL
)"""
            )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


@register(
    "anomaly_esd_rounds",
    oracle=_esd_sql("MATERIALIZED "),
    description=f"generalized ESD ({ESD_ROUNDS} rounds): iteratively "
    "remove the most extreme |x−mean|/sd point per event type and "
    "recompute — the masked-outlier fix for anomaly_zscore; decimal-"
    "exact sufficient statistics each round, argmax via two map-side-"
    "combinable aggregates (no data-shaped window), deterministic "
    "min-event_id tie-break — bit-identical across engines",
)
def anomaly_esd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shared CTE text re-derives each round's survivor set from the
    # previous round's CHAIN; Spark has no CTE materialization, so the
    # single-SQL form recomputed the chain combinatorially (63 exchanges
    # in the plan audit). Here each round's survivor set is the base scan
    # minus the ACCUMULATED picks (a ROUNDS-bounded broadcast anti-join,
    # ≤ 5·r rows, eagerly checkpointed) — identical arithmetic text per
    # round, so values still match the chained oracle bit-for-bit, but
    # lineage depth stays constant and nothing data-shaped is ever
    # checkpointed (the 100 TB shape).
    from posting_lines_spark.queries.parity import dsum_expr

    base = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    mean = "sz / CAST(n AS DOUBLE)"
    sd = (
        "nullif(sqrt((szz - sz * sz / CAST(n AS DOUBLE))"
        " / CAST(nullif(n - 1, 0) AS DOUBLE)), 0.0e0)"
    )
    picks: list[DataFrame] = []
    outs: list[DataFrame] = []
    for r in range(1, ESD_ROUNDS + 1):
        b = base
        for pk in picks:
            b = b.join(
                F.broadcast(pk), ["event_type", "event_id"], "left_anti"
            )
        st = b.groupBy("event_type").agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr(dsum_expr("value")).alias("sz"),
            F.expr(dsum_expr("value * value")).alias("szz"),
        )
        d = b.join(F.broadcast(st), "event_type").select(
            "event_type", "event_id",
            F.expr(f"abs(value - {mean}) / {sd}").alias("r"),
        )
        # ONE pass finds the pick (round-15): the old max(r)-then-
        # equality-join form consumed d TWICE (the broadcast m build and
        # the probe side each recomputed the scan→anti-join→stats-join
        # pipeline — map-only lineage, so exchange reuse cannot dedup
        # it). max_by(event_id, struct(r, -event_id)) selects the same
        # row — max r, ties to the SMALLER event_id — and max(r) is the
        # same r_stat, in a single aggregate over one computation of d.
        # The isNotNull guard reproduces the old join's null semantics
        # (a null r could never equal max(r)). The -event_id tie-break
        # assumes event_id > Long.MIN_VALUE (generator ids are small
        # positive ints; a MIN_VALUE id would wrap silently under
        # non-ANSI negation — ADVICE r15).
        pk = cut(  # loop: the round's picks (ROUNDS-bounded: <= 5 rows)
            d.where(F.col("r").isNotNull())
            .groupBy("event_type")
            .agg(
                F.expr("max_by(event_id, struct(r, -event_id))")
                .cast("long")
                .alias("event_id"),
                F.max("r").alias("r_stat"),
            ),
            eager=True,
        )
        picks.append(pk.select("event_type", "event_id"))
        outs.append(pk.select(
            F.lit(r).cast("int").alias("round"),
            "event_type", "event_id", "r_stat",
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- Cramér's V effect size (the magnitude chi-square doesn't give) ---
# χ² grows with n, so a huge table makes trivial associations
# "significant"; Cramér's V = sqrt(χ² / (n·min(r−1, c−1))) ∈ [0,1] is
# the sample-size-free effect size a 100 TB audit actually wants.
# Same contingency machinery and ordered-fold parity as
# stats_chi2_independence (integer counts, IEEE expected values,
# cell-ordered fold), plus one sqrt of engine-identical doubles; r/c
# come from exact marginal counts and min() is least() on integers.

_CRAMERS_SQL = CHI2_SQL.replace(
    """SELECT CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_cells,
       (SELECT count(*) FROM rows_m) * (SELECT count(*) FROM cols_m)
         - (SELECT count(*) FROM rows_m) - (SELECT count(*) FROM cols_m) + 1 AS dof,
       (SELECT {FOLD} FROM t2) AS chi2""",
    """SELECT CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_cells,
       (SELECT n FROM tot) AS n,
       (SELECT {FOLD} FROM t2) AS chi2,
       sqrt((SELECT {FOLD} FROM t2)
            / (CAST((SELECT n FROM tot) AS DOUBLE)
               * CAST(least((SELECT count(*) FROM rows_m) - 1,
                            (SELECT count(*) FROM cols_m) - 1) AS DOUBLE)))
         AS cramers_v""",
)


def _cramers_sql(fold: str) -> str:
    return _CRAMERS_SQL.replace("{FOLD}", fold)


@register(
    "stats_cramers_v",
    oracle=_cramers_sql(_CHI2_FOLD_DUCK),
    description="Cramér's V effect size on the returnflag × linestatus "
    "contingency table — the sample-size-free magnitude the raw χ² "
    "can't give at scale; same integer-count/ordered-fold parity as "
    "stats_chi2_independence plus one sqrt; only the first aggregate "
    "touches data",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_cramers_sql(_CHI2_FOLD_SPARK))


# --- mutual information + entropies (the information-theoretic rung) ---
# Completes the association ladder χ² → Cramér's V → MI: how many NATS
# does knowing l_returnflag give about l_linestatus? MI needs logs, so
# every ln argument is an exact integer through the deterministic
# kernel:
#   MI = Σ_xy (c_xy/N)·[ln(c_xy·N) − ln(r_x·c_y)]
#   H(X) = ln(N) − (Σ_x r_x·ln r_x)/N     (likewise H(Y))
# (c·N ≤ N² ≈ 3.6e15 at sf10 — BIGINT-exact). The cell/marginal sums of
# double terms use the cell-ordered fold idiom (chi2 precedent), never
# a group SUM over doubles; NMI = MI/min(H) with a nullif guard for a
# degenerate single-value marginal. Bit-identical across engines.
#
# Scale: one count aggregate sees data; everything downstream is
# |cells| + |marginals| rows with kernel math.


def _mi_sql(fold_cells: str, fold_x: str, fold_y: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    ln_c, last_c = dln_int_cte_layers(
        [("o * nn", "num"), ("rt * ct", "den")], "cellsx", "mic"
    )
    ln_x, last_x = dln_int_cte_layers([("rt", "lr")], "rows_m2", "mix")
    ln_y, last_y = dln_int_cte_layers([("ct", "lc")], "cols_m2", "miy")
    ln_n, last_n = dln_int_cte_layers([("n", "ln_")], "tot", "min_")
    return f"""
WITH cells AS (
  SELECT l_returnflag AS flag, l_linestatus AS status,
         CAST(count(*) AS BIGINT) AS o
  FROM lineitem GROUP BY 1, 2
),
rows_m AS (SELECT flag, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY flag),
cols_m AS (SELECT status, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY status),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
{ln_n},
cellsx AS (
  SELECT c.flag, c.status, c.o, r.rt, m.ct, t.n AS nn
  FROM cells c
  JOIN rows_m r ON r.flag = c.flag
  JOIN cols_m m ON m.status = c.status
  CROSS JOIN tot t
),
{ln_c},
miterms AS (
  SELECT flag, status,
         (CAST(o AS DOUBLE) / CAST(nn AS DOUBLE)) * (num_ln - den_ln) AS term
  FROM {last_c}
),
rows_m2 AS (SELECT flag, rt FROM rows_m),
{ln_x},
xterms AS (SELECT flag, CAST(rt AS DOUBLE) * lr_ln AS term FROM {last_x}),
cols_m2 AS (SELECT status, ct FROM cols_m),
{ln_y},
yterms AS (SELECT status, CAST(ct AS DOUBLE) * lc_ln AS term FROM {last_y}),
agg AS (
  SELECT
    (SELECT {fold_cells} FROM miterms) AS mi,
    (SELECT ln__ln FROM {last_n}) AS ln_n,
    (SELECT CAST(n AS DOUBLE) FROM tot) AS nd,
    (SELECT {fold_x} FROM xterms) AS sx,
    (SELECT {fold_y} FROM yterms) AS sy
)
SELECT mi AS mi_nats,
       ln_n - sx / nd AS h_x,
       ln_n - sy / nd AS h_y,
       mi / nullif(least(ln_n - sx / nd, ln_n - sy / nd), 0.0e0) AS nmi
FROM agg
"""


_MI_FOLD_SPARK_CELLS = (
    "aggregate(transform(array_sort(collect_list(struct(flag, status, term))), "
    "s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_MI_FOLD_DUCK_CELLS = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list(term ORDER BY flag, status)), (acc, v) -> acc + v)"
)
_MI_FOLD_SPARK_X = (
    "aggregate(transform(array_sort(collect_list(struct(flag, term))), "
    "s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_MI_FOLD_DUCK_X = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list(term ORDER BY flag)), (acc, v) -> acc + v)"
)
_MI_FOLD_SPARK_Y = _MI_FOLD_SPARK_X.replace("flag", "status")
_MI_FOLD_DUCK_Y = _MI_FOLD_DUCK_X.replace("flag", "status")


@register(
    "stats_mutual_information",
    oracle=_mi_sql(_MI_FOLD_DUCK_CELLS, _MI_FOLD_DUCK_X, _MI_FOLD_DUCK_Y),
    description="mutual information, marginal entropies and NMI on the "
    "returnflag × linestatus table — the information-theoretic rung "
    "after χ²/Cramér's V (the feature-selection staple): every ln "
    "argument an exact integer through the deterministic kernel, "
    "cell-ordered folds for all double sums, nullif-guarded NMI — "
    "bit-identical across engines; one aggregate sees data",
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        _mi_sql(_MI_FOLD_SPARK_CELLS, _MI_FOLD_SPARK_X, _MI_FOLD_SPARK_Y)
    )


# --- standardized effect sizes (Cohen's d / Hedges' g / Glass's Δ) ---
# The statistics ladder reports z-stats (stats_welch_ttest,
# stats_mann_whitney); at 100 TB every difference is "significant", so
# the decision-relevant number is the EFFECT SIZE. Between the same two
# groups as the Welch test (purchase vs click values): pooled-SD
# Cohen's d, its small-sample-corrected Hedges' g (the exact
# multiplicative correction 1 − 3/(4n − 9)), and control-SD Glass's Δ.
# Moments route through DECIMAL (values are 2-dp → squares 4-dp, both
# sums exact and order-free); the remaining chain is fixed-text IEEE
# ops (sub/mul/div/sqrt all correctly rounded) → bit-identical.
# Scale: ONE conditional-aggregate pass (map-side combine, 1-row
# state); no shuffle beyond the 4-buffer aggregate.

_EFF_A, _EFF_B = "purchase", "click"


def _effect_sizes_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    def grp(g: str, expr: str) -> str:
        return f"CASE WHEN event_type = '{g}' THEN {expr} ELSE NULL END"

    n1, n2 = "CAST(n1 AS DOUBLE)", "CAST(n2 AS DOUBLE)"
    m = "((s{i} / n{i}d))"
    var = "((ss{i} - s{i} * s{i} / n{i}d) / (n{i}d - 1.0e0))"
    v1 = var.format(i=1).replace("n1d", n1)
    v2 = var.format(i=2).replace("n2d", n2)
    m1 = m.format(i=1).replace("n1d", n1)
    m2 = m.format(i=2).replace("n2d", n2)
    sp = (f"sqrt((({n1} - 1.0e0) * {v1} + ({n2} - 1.0e0) * {v2})"
          f" / ({n1} + {n2} - 2.0e0))")
    d = f"(({m1} - {m2}) / {sp})"
    return f"""
WITH agg AS (
  SELECT CAST(count({grp(_EFF_A, '1')}) AS BIGINT) AS n1,
         CAST(count({grp(_EFF_B, '1')}) AS BIGINT) AS n2,
         {dsum_expr(grp(_EFF_A, 'value'))} AS s1,
         {dsum_expr(grp(_EFF_B, 'value'))} AS s2,
         {dsum_expr(grp(_EFF_A, 'value * value'))} AS ss1,
         {dsum_expr(grp(_EFF_B, 'value * value'))} AS ss2
  FROM events
  WHERE event_type IN ('{_EFF_A}', '{_EFF_B}')
)
SELECT n1, n2,
       {m1} - {m2} AS mean_diff,
       {d} AS cohens_d,
       {d} * (1.0e0 - 3.0e0 / (4.0e0 * ({n1} + {n2}) - 9.0e0)) AS hedges_g,
       ({m1} - {m2}) / sqrt({v2}) AS glass_delta
FROM agg
"""


@register(
    "stats_effect_sizes",
    oracle=_effect_sizes_sql(),
    description="standardized effect sizes between two event groups: "
    "pooled-SD Cohen's d, small-sample-corrected Hedges' g "
    "(1 − 3/(4n−9)), control-SD Glass's Δ — decimal-routed exact "
    "moments (2-dp values ⇒ 4-dp squares, exact sums), then one "
    "fixed-text IEEE chain shared by both engines; a single "
    "conditional-aggregate pass with map-side combine",
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_effect_sizes_sql())


# --- Cochran-Armitage trend test (ordered groups × binary outcome) ---
# The dose-response rung the χ² independence test can't see: χ² treats
# o_orderpriority as nominal; Cochran-Armitage tests for a MONOTONE
# trend in the 'F' (fulfilled) rate across the ordered priorities with
# scores w = 1..5. Everything up to the final quotient is exact
# BIGINT arithmetic on category counts:
#   num = N·T − Y·S1, where T = Σ w·y_k, S1 = Σ w·n_k
#   z = num / sqrt( Y·(N−Y)·(N·S2 − S1²) / N )   (S2 = Σ w²·n_k)
# (the variance product can exceed int64 at sf10 — each exact integer
# factor is cast to DOUBLE first; correctly-rounded mul/div/sqrt of
# identical operands → bit-identical z on both engines).
# Scale: one 5-category aggregate (map-side combine), then scalar math.


def _cochran_armitage_sql() -> str:
    w = "CAST(substr(o_orderpriority, 1, 1) AS BIGINT)"
    dbl = "CAST({x} AS DOUBLE)"
    n, y = dbl.format(x="n_all"), dbl.format(x="y_all")
    s1, s2, t = dbl.format(x="s1"), dbl.format(x="s2"), dbl.format(x="t")
    return f"""
WITH per_k AS (
  SELECT {w} AS w,
         CAST(count(*) AS BIGINT) AS n_k,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS y_k
  FROM orders
  GROUP BY 1
),
agg AS (
  SELECT CAST(sum(n_k) AS BIGINT) AS n_all,
         CAST(sum(y_k) AS BIGINT) AS y_all,
         CAST(sum(w * n_k) AS BIGINT) AS s1,
         CAST(sum(w * w * n_k) AS BIGINT) AS s2,
         CAST(sum(w * y_k) AS BIGINT) AS t
  FROM per_k
)
SELECT n_all, y_all, s1, s2, t,
       ({n} * {t} - {y} * {s1})
       / sqrt({y} * ({n} - {y}) * ({n} * {s2} - {s1} * {s1}) / {n})
         AS z_trend
FROM agg
"""


@register(
    "stats_trend_cochran_armitage",
    oracle=_cochran_armitage_sql(),
    description="Cochran-Armitage trend test: monotone dose-response of "
    "the fulfilled rate across ordered order priorities (scores 1..5) — "
    "the ordinal rung above nominal χ²; all sufficient statistics exact "
    "BIGINTs from one 5-category aggregate, final z one fixed-text "
    "IEEE chain (int64-overflow-safe: factors cast to DOUBLE before "
    "the variance product)",
)
def stats_trend_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_cochran_armitage_sql())


# --- Cohen's kappa (inter-rater agreement) ---
# The label-quality primitive of every annotation pipeline: chance-
# corrected agreement between two deterministic raters over 3 classes
# (rater A buckets the cents score, rater B buckets the event type).
# κ = (pₒ − pₑ)/(1 − pₑ) = (N·Σd − Σᵢ rᵢ·cᵢ) / (N² − Σᵢ rᵢ·cᵢ) —
# every operand an exact integer from one k×k contingency aggregate
# (k = 3, map-side combined); the marginal products are accumulated in
# DECIMAL(38,0) and cast through VARCHAR (parity final-cast rule), so
# the statistic survives N² beyond int64. One division at the end.


def _kappa_sql() -> str:
    d38 = "DECIMAL(38,0)"
    return f"""
WITH lab AS (
  SELECT CASE WHEN CAST(round(value * 100e0) AS BIGINT) < 10000 THEN 0
              WHEN CAST(round(value * 100e0) AS BIGINT) < 25000 THEN 1
              ELSE 2 END AS ra,
         CASE WHEN event_type IN ('view', 'click') THEN 0
              WHEN event_type IN ('signup', 'error') THEN 1
              ELSE 2 END AS rb
  FROM events
),
cells AS (
  SELECT ra, rb, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY ra, rb
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT) AS agree
  FROM cells
),
rm AS (SELECT ra AS k, CAST(sum(c) AS BIGINT) AS rc FROM cells GROUP BY ra),
cm AS (SELECT rb AS k, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY rb),
pe AS (
  SELECT CAST(CAST(sum(CAST(rm.rc AS {d38}) * CAST(cm.cc AS {d38})) AS STRING)
              AS DOUBLE) AS src
  FROM rm JOIN cm ON cm.k = rm.k
)
SELECT t.n, t.agree,
       CAST(t.agree AS DOUBLE) / CAST(t.n AS DOUBLE) AS po,
       p.src / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)) AS pe,
       (CAST(t.agree AS DOUBLE) * CAST(t.n AS DOUBLE) - p.src)
         / nullif(CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) - p.src,
                  0.0e0) AS kappa
FROM tot t CROSS JOIN pe p
"""


@register(
    "stats_cohens_kappa",
    oracle=_kappa_sql(),
    description="Cohen's kappa between two deterministic 3-class raters "
    "(score buckets vs event-type buckets): one k×k contingency "
    "aggregate (map-side combine, 9 cells), marginal products in "
    "DECIMAL(38,0) through the VARCHAR final cast, one division — the "
    "annotation-quality primitive",
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_kappa_sql())


# --- distribution distances (TV / Hellinger / Jensen-Shannon) ---
# The drift-audit triple next to profile_psi_drift: split the events
# stream into two cohorts (event_id parity — deterministic, balanced)
# and measure the distance between their event-type distributions.
#   TV  = ½·Σᵢ|aᵢ/A − bᵢ/B|        — numerator Σ|aᵢB − bᵢA| is an exact
#         DECIMAL(38,0); one division by 2AB.
#   H   = √(1 − Σᵢ √((aᵢ/A)(bᵢ/B)))  — per-term sqrt of one fixed-text
#         double chain (IEEE sqrt is correctly rounded on both engines).
#   JS  = ½Σᵢ pᵢ·ln(2aᵢB/(aᵢB+bᵢA)) + ½Σᵢ qᵢ·ln(2bᵢA/(aᵢB+bᵢA)) — every
#         log argument an INTEGER through the deterministic ln kernel
#         (arguments ≤ 2·A·B; the kernel is exact to 2^52 — beyond
#         ~10^7 rows per cohort, factor the counts first).
# Cross-type sums are decimal-routed (k-bounded: one row per type).
# Scale: ONE conditional aggregate keyed by event_type (map-side
# combine), kernel math over k rows, a 1-row reduce.


def _dist_distance_sql() -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    d38 = "DECIMAL(38,0)"
    layers, last = dln_int_cte_layers(
        [("arg_pa", "la"), ("arg_pb", "lb"), ("arg_m", "lm")], "j0", "jl"
    )
    return f"""
WITH per AS (
  SELECT event_type,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM events
  GROUP BY event_type
),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb FROM per),
j0 AS (
  SELECT p.a, p.b, t.ta, t.tb,
         greatest(CAST(1 AS BIGINT), 2 * p.a * t.tb) AS arg_pa,
         greatest(CAST(1 AS BIGINT), 2 * p.b * t.ta) AS arg_pb,
         greatest(CAST(1 AS BIGINT), p.a * t.tb + p.b * t.ta) AS arg_m
  FROM per p CROSS JOIN tot t
),
{layers},
terms AS (
  SELECT ta, tb,
         CAST(abs(CAST(a AS {d38}) * tb - CAST(b AS {d38}) * ta) AS {d38}) AS tvnum,
         CASE WHEN a = 0 THEN 0e0
              ELSE (CAST(a AS DOUBLE) / nullif(CAST(ta AS DOUBLE), 0e0))
                   * (la_ln - lm_ln)
         END AS jsa,
         CASE WHEN b = 0 THEN 0e0
              ELSE (CAST(b AS DOUBLE) / nullif(CAST(tb AS DOUBLE), 0e0))
                   * (lb_ln - lm_ln)
         END AS jsb,
         sqrt((CAST(a AS DOUBLE) / nullif(CAST(ta AS DOUBLE), 0e0))
              * (CAST(b AS DOUBLE) / nullif(CAST(tb AS DOUBLE), 0e0))) AS hterm
  FROM {last}
)
SELECT ta AS n_a, tb AS n_b,
       CAST(CAST(sum(tvnum) AS STRING) AS DOUBLE)
         / nullif(2.0e0 * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE),
                  0e0) AS tv_distance,
       sqrt(greatest(0e0, 1.0e0 - {dsum_expr("hterm", 12)})) AS hellinger,
       ({dsum_expr("jsa", 12)} + {dsum_expr("jsb", 12)}) / 2.0e0 AS js_nats
FROM terms
GROUP BY ta, tb
"""


@register(
    "stats_distribution_distance",
    oracle=_dist_distance_sql(),
    description="drift-audit distance triple (total variation / "
    "Hellinger / Jensen-Shannon) between the event-type distributions "
    "of two deterministic cohorts: one conditional aggregate keyed by "
    "type, TV numerator exact DECIMAL, JS logs over INTEGER arguments "
    "via the deterministic ln kernel, k-bounded decimal-routed sums",
)
def stats_distribution_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dist_distance_sql())


# --- Poisson-bootstrap confidence interval for the mean ---
# The distributed bootstrap (Chamandy et al., "Estimating Uncertainty
# for Massive Data Streams"; the resampling scheme behind Google's
# Poisson bootstrap): classic resampling needs a global sample-with-
# replacement — impossible to shard — but replicate b's multiplicity
# for row i is ≈ Poisson(1), so each row independently emits a
# DETERMINISTIC md5-derived Poisson(1) weight per replicate (truncated
# at 5, tail mass ~6e-4/2 per row — identical truncation on both
# engines). Metric: mean purchase value in cents (exact integers), so
# each replicate mean is Σw·x / Σw — a ratio of exact BIGINTs. The CI
# is read from the order statistics of the B=64 replicate means
# (rank 2 / rank 63 ≈ the 2.5/97.5 percentiles); the final window runs
# over exactly B rows.
#
# Scale: the same map-side B-fanout as stats_permutation_test — the
# shuffle carries B sufficient-statistic rows at ANY data volume; the
# B knob is the budget dial.

BOOT_B = 64
_BOOT_U_MOD = 1 << 26  # md5 → uniform u with 26 exact double bits


def _boot_cuts() -> str:
    import math as _m

    from posting_lines_spark.functions.geo import dlit

    acc, cuts = 0.0, []
    for k in range(5):
        acc += _m.exp(-1.0) / _m.factorial(k)
        cuts.append(acc)
    cases = " ".join(
        f"WHEN u < {dlit(c)} THEN {k}" for k, c in enumerate(cuts)
    )
    return f"CASE {cases} ELSE 5 END"


def _bootstrap_sql(h_expr: str, range_b: str) -> str:
    lo_rank, hi_rank = 2, BOOT_B - 1  # ~2.5% / ~97.5% order statistics
    return f"""
WITH pts AS (
  SELECT event_id, CAST(round(value * 100e0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM pts
),
long AS (
  SELECT p.x, r.b,
         CAST(({h_expr}) % {_BOOT_U_MOD} AS DOUBLE) / {float(_BOOT_U_MOD)!r}e0 AS u
  FROM pts p CROSS JOIN {range_b} r
),
w AS (SELECT x, b, {_boot_cuts()} AS w FROM long),
reps AS (
  SELECT b, CAST(sum(w) AS BIGINT) AS nb, CAST(sum(w * x) AS BIGINT) AS sb
  FROM w GROUP BY b
),
means AS (
  SELECT b, CAST(sb AS DOUBLE) / CAST(nb AS BIGINT) AS mean_b,
         row_number() OVER (ORDER BY CAST(sb AS DOUBLE) / CAST(nb AS BIGINT), b) AS rk
  FROM reps
)
SELECT t.n, CAST({BOOT_B} AS BIGINT) AS b_total,
       CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_cents,
       max(CASE WHEN m.rk = {lo_rank} THEN m.mean_b END) AS ci_lo_cents,
       max(CASE WHEN m.rk = {hi_rank} THEN m.mean_b END) AS ci_hi_cents
FROM means m CROSS JOIN tot t
GROUP BY t.n, t.sx
"""


@register(
    "stats_bootstrap_ci",
    oracle=_bootstrap_sql(
        md5_int_duck(
            "concat(CAST(p.event_id AS VARCHAR), '_', CAST(r.b AS VARCHAR))",
            salt="boot",
        ),
        f"(SELECT r AS b FROM range(0, {BOOT_B}) t(r))",
    ),
    description=f"Poisson-bootstrap CI for the mean purchase value "
    f"(B={BOOT_B} md5-keyed deterministic Poisson(1) weights, truncated "
    "at 5): map-side B-fanout, shuffle state = B exact-integer "
    "sufficient-statistic rows at any SF, CI from the rank-2/rank-63 "
    "order statistics of the replicate means — the shardable bootstrap",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _bootstrap_sql(
            md5_int_spark(
                "concat(CAST(p.event_id AS STRING), '_', CAST(r.b AS STRING))",
                salt="boot",
            ),
            f"(SELECT explode(sequence(0, {BOOT_B - 1})) AS b)",
        )
    )


# --- absorbing-chain conversion analysis (expected steps to purchase) ---
# events_markov_stationary asks "where does the walk settle"; the
# conversion question is "how LONG until purchase, starting from each
# state" — the absorbing-chain formulation with 'purchase' absorbing.
# Rather than inverting the fundamental matrix (I−Q)⁻¹, both engines
# run the K-step truncated recurrences in fixed-point BIGINT micro-
# units (the events_markov_stationary discipline):
#   steps_k(i) = 1e6 + Σ_j round(q_ij · steps_{k-1}(j))   (j transient)
#   absorb_k(i) = r_i_micro + Σ_j round(q_ij · absorb_{k-1}(j))
# — "expected steps spent within a K-step horizon" and "probability of
# purchasing within K steps", both well-defined quantities in their own
# right (truncation ~ρ^K is documented, not hidden) and engine-exact.
# The matrix is type-bounded (k² ≤ 25 cells); the only data-shaped work
# is the same lag-window bigram count.

ABSORB_ITERS = 24
_ABS_TARGET = "purchase"


def _absorbing_sql(us: str, mat: str = "") -> str:
    """`mat='MATERIALIZED '` (the DuckDB oracle): without it DuckDB's
    optimizer work on the 24-deep nested chain grows superlinearly —
    measured 0.4 s at 8 steps, 8.4 s at 16, timeout at 24; materializing
    each tiny per-step state linearizes it (the harmonic-centrality
    MATERIALIZED lesson, applied to depth instead of width)."""
    steps = []
    for i in range(1, ABSORB_ITERS + 1):
        steps.append(f"""
s{i} AS {mat}(
  -- ONE reference to s{i-1}: a second (separate qs/qa subquery) form
  -- doubles the unrolled plan per step — 2^{ABSORB_ITERS} expansion
  -- (the single-reference-CTE discipline from graph_random_walks)
  SELECT q0.state,
         CAST(1000000 + coalesce(x.vt, 0) AS BIGINT) AS t,
         CAST(q0.r_micro + coalesce(x.va, 0) AS BIGINT) AS a
  FROM q0
  LEFT JOIN (
    SELECT q.prev_type AS state,
           CAST(sum(CAST(round(CAST(s.t AS DOUBLE) * q.p) AS BIGINT)) AS BIGINT) AS vt,
           CAST(sum(CAST(round(CAST(s.a AS DOUBLE) * q.p) AS BIGINT)) AS BIGINT) AS va
    FROM s{i - 1} s JOIN qmat q ON q.next_type = s.state
    GROUP BY q.prev_type
  ) x ON x.state = q0.state
)""")
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY {us}, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
trans AS (
  SELECT prev_type, next_type,
         CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
  FROM t WHERE prev_type <> '{_ABS_TARGET}'
),
qmat AS (SELECT * FROM trans WHERE next_type <> '{_ABS_TARGET}'),
q0 AS (
  SELECT st.prev_type AS state,
         CAST(coalesce(round(1.0e6 * max(CASE WHEN tr.next_type = '{_ABS_TARGET}'
                                              THEN tr.p END)), 0) AS BIGINT)
           AS r_micro,
         CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS a
  FROM (SELECT DISTINCT prev_type FROM trans) st
  LEFT JOIN trans tr ON tr.prev_type = st.prev_type
  GROUP BY st.prev_type
),
s0 AS (SELECT state, t, a FROM q0),
{",".join(steps)}
SELECT state AS event_type,
       t AS steps_micro, a AS absorb_micro,
       CAST(t AS DOUBLE) / 1.0e6 AS expected_steps_h{ABSORB_ITERS},
       CAST(a AS DOUBLE) / 1.0e6 AS p_purchase_h{ABSORB_ITERS}
FROM s{ABSORB_ITERS}
"""


@register(
    "events_markov_absorbing",
    oracle=_absorbing_sql("epoch_us(ts)", mat="MATERIALIZED "),
    description=f"absorbing-chain conversion analysis ('{_ABS_TARGET}' "
    f"absorbing): {ABSORB_ITERS} unrolled fixed-point BIGINT recurrence "
    "steps give expected steps spent and purchase probability within "
    "the horizon — engine-exact (round(v·p) summed exactly, zero "
    "float-sum order sensitivity), matrix type-bounded, the only "
    "data-shaped work the lag-window bigram count",
)
def events_markov_absorbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark side: the bigram/transition derivation is the distributed
    # pass; the 24-step recurrence runs on the COLLECTED ≤ k² transition
    # matrix (type-bounded driver metadata — the bloom-bitset budget),
    # with Spark's round semantics replicated exactly via
    # Decimal(repr(x)) HALF_UP (the tests' _dsum3 discipline). The
    # unrolled-SQL form on Spark plans a 24-deep nested chain whose
    # optimizer cost (like DuckDB's, see _absorbing_sql) grows
    # superlinearly — the matrix is metadata, so the loop belongs on
    # the driver.
    from decimal import ROUND_HALF_UP, Decimal

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    trans = spark.sql(
        f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY unix_micros(ts), event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM t WHERE prev_type <> '{_ABS_TARGET}'
"""
    ).collect()

    def half_up(x: float) -> int:
        return int(
            Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    states = sorted({r["prev_type"] for r in trans})
    q = {(r["prev_type"], r["next_type"]): r["p"] for r in trans
         if r["next_type"] != _ABS_TARGET}
    r_micro = {
        s: half_up(1.0e6 * next((r["p"] for r in trans
                                 if r["prev_type"] == s
                                 and r["next_type"] == _ABS_TARGET), 0.0))
        for s in states
    }
    t_v = dict.fromkeys(states, 0)
    a_v = dict.fromkeys(states, 0)
    for _ in range(ABSORB_ITERS):
        t_v = {
            i: 1_000_000
            + sum(half_up(float(t_v[j]) * q[(i, j)]) for j in states if (i, j) in q)
            for i in states
        }
        a_v = {
            i: r_micro[i]
            + sum(half_up(float(a_v[j]) * q[(i, j)]) for j in states if (i, j) in q)
            for i in states
        }
    rows = [(s, t_v[s], a_v[s], t_v[s] / 1.0e6, a_v[s] / 1.0e6) for s in states]
    return spark.createDataFrame(
        rows,
        f"event_type string, steps_micro long, absorb_micro long, "
        f"expected_steps_h{ABSORB_ITERS} double, p_purchase_h{ABSORB_ITERS} double",
    )


# --- Wilcoxon signed-rank test (paired two-sample) ---
# The PAIRED sibling of stats_mann_whitney: per calendar day, the pair
# is (purchase cents total, click cents total); the test ranks the
# nonzero |differences| and asks whether positive and negative days
# balance. Exactly the A/B primitive for before/after comparisons on
# the same units. All rank math in exact integers, the Mann-Whitney
# trick transposed: per distinct |diff| value v with count t and
# cum_before smaller values, average rank = cum_before + (t+1)/2, so
#   2·W⁺ = Σ_v pos_v · (2·cum_before + t + 1)   — an exact BIGINT.
# Normal approximation with tie correction:
#   z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
#
# Scale: daily sums are one map-side-combinable aggregate; everything
# after is CALENDAR-BOUNDED (≤ 366 rows per year at any data volume) —
# the Theil-Sen cost model. The ranking window runs over the bounded
# |diff| domain, never over raw rows.

_WSR_A, _WSR_B = "purchase", "click"


def _wilcoxon_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    nd = "CAST(n AS DOUBLE)"
    w = "(CAST(w2 AS DOUBLE) / 2.0e0)"
    mu = f"({nd} * ({nd} + 1.0e0) / 4.0e0)"
    var = (
        f"({nd} * ({nd} + 1.0e0) * (2.0e0 * {nd} + 1.0e0) / 24.0e0"
        f" - CAST(tie_sum AS DOUBLE) / 48.0e0)"
    )
    return f"""
WITH daily AS (
  SELECT {day} AS day,
         CAST(sum(CASE WHEN event_type = '{_WSR_A}'
                       THEN CAST(round(value * 100e0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS xa,
         CAST(sum(CASE WHEN event_type = '{_WSR_B}'
                       THEN CAST(round(value * 100e0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS xb
  FROM events
  WHERE event_type IN ('{_WSR_A}', '{_WSR_B}')
  GROUP BY 1
),
diffs AS (
  SELECT xa - xb AS d, abs(xa - xb) AS ad FROM daily WHERE xa <> xb
),
pts AS (
  SELECT ad,
         CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM diffs GROUP BY ad
),
run AS (
  SELECT t, pos,
         sum(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS run_t
  FROM pts
),
agg AS (
  SELECT CAST(sum(t) AS BIGINT) AS n,
         CAST(sum(pos * (2 * (run_t - t) + t + 1)) AS BIGINT) AS w2,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
  FROM run
)
SELECT n, {w} AS w_plus, tie_sum,
       ({w} - {mu}) / nullif(sqrt({var}), 0e0) AS z_stat
FROM agg
"""


@register(
    "stats_wilcoxon_signed_rank",
    oracle=_wilcoxon_sql("epoch_us(ts)"),
    description="tie-corrected Wilcoxon signed-rank test on paired "
    "daily (purchase, click) cents totals: exact-integer 2·W⁺ from "
    "per-|diff| counts + running sums over the calendar-bounded diff "
    "domain, zero-diff days excluded per convention, one fixed "
    "shared-text double chain for the tie-corrected z — the paired "
    "sibling of stats_mann_whitney",
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_wilcoxon_sql("unix_micros(ts)"))


# --- Friedman test (k related samples, blocked ranks) ---
# The k-treatment generalization of the signed-rank idea and the
# nonparametric sibling of a two-way ANOVA without replication: blocks
# = calendar days, treatments = event types, response = daily cents
# total (missing cells coalesce to 0 via the day×type scaffold, making
# blocks complete deterministically on both engines). Within each
# block the k values get average ranks; with doubled ranks
# 2r = 2·(#smaller) + (#equal) + 1 every quantity stays a BIGINT, and
# the tie-corrected statistic (Conover form) is ONE division of exact
# integers:
#   Q = (k−1) · Σ_j (2R_j − N(k+1))² / (Σ (2r)² − N·k·(k+1)²)
# — the classical Q = (k−1)·Σ_j(R_j − N(k+1)/2)² / (A − C) with
# A = Σ r², C = N·k(k+1)²/4: doubling the ranks multiplies both the
# spread term (Σ(R_j−N(k+1)/2)² = Σ(2R_j−N(k+1))²/4) and A − C
# (= (Σ(2r)² − N·k(k+1)²)/4) by 4, so the factors cancel exactly.
#
# Scale: one (day, type) aggregate (map-side combine), a k²-per-day
# self-join on the TYPE-BOUNDED block table (k ≈ 5), calendar-bounded
# everything after — constant in row count like Theil-Sen.


def _friedman_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH cells0 AS (
  SELECT {day} AS day, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS v
  FROM events
  GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM cells0),
types AS (SELECT DISTINCT event_type FROM cells0),
cells AS (
  SELECT d.day, t.event_type, coalesce(c.v, 0) AS v
  FROM days d CROSS JOIN types t
  LEFT JOIN cells0 c ON c.day = d.day AND c.event_type = t.event_type
),
ranked AS (
  SELECT a.day, a.event_type,
         CAST(2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1
              AS BIGINT) AS r2
  FROM cells a
  JOIN cells b ON b.day = a.day
  GROUP BY a.day, a.event_type
),
sums AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2j,
         CAST(sum(r2 * r2) AS BIGINT) AS r2sq
  FROM ranked GROUP BY event_type
),
consts AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM days) AS n
  FROM types
)
SELECT c.k, c.n,
       CAST((c.k - 1) AS DOUBLE)
         * CAST(sum((s.r2j - c.n * (c.k + 1)) * (s.r2j - c.n * (c.k + 1)))
                AS DOUBLE)
         / nullif(CAST(sum(s.r2sq) - c.n * c.k * (c.k + 1) * (c.k + 1)
                       AS DOUBLE), 0e0) AS q_stat,
       CAST(c.k - 1 AS BIGINT) AS df
FROM sums s CROSS JOIN consts c
GROUP BY c.k, c.n
"""


@register(
    "stats_friedman_test",
    oracle=_friedman_sql("epoch_us(ts)"),
    description="tie-corrected Friedman test (blocks = days, "
    "treatments = event types, response = daily cents totals, missing "
    "cells completed to 0 via the day×type scaffold): doubled average "
    "ranks keep every quantity BIGINT (2r = 2·#smaller + #equal + 1), "
    "the Conover tie-corrected Q is one division of exact integers; "
    "k²-per-day self-join on the type-bounded block table, calendar-"
    "bounded cost",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_friedman_sql("unix_micros(ts)"))


# --- user-journey trigram mining ---
# The sequence-mining extension of event_transitions (bigrams / Markov):
# the most frequent 3-step event-type paths across user sessions —
# journey analysis as run for funnel redesign and next-action models.
# Trigrams come from two lead() steps over USER-partitioned windows
# (never a global ordering); counting is one map-side-combinable
# aggregate; the top-20 is a deterministic (count DESC, path ASC)
# TakeOrdered.


def _journey_trigram_sql() -> str:
    return """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
       CAST(count(*) AS BIGINT) AS n_journeys
FROM seq
WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n_journeys DESC, path
LIMIT 20
"""


@register(
    "events_journey_trigrams",
    oracle=_journey_trigram_sql(),
    description="top-20 3-step user-journey paths (the sequence-mining "
    "extension of event_transitions): two lead() steps over USER-"
    "partitioned windows — never a global ordering — one map-side "
    "path aggregate, deterministic (count DESC, path ASC) top-20",
)
def events_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_journey_trigram_sql())


# --- inter-arrival burstiness (index of dispersion per event type) ---
# Traffic-model audit: per event type, the mean / variance / CV² of
# inter-arrival gaps measured WITHIN user timelines (user-partitioned
# lag windows — a per-type global ordering would be a single-partition
# window, the anti-pattern). CV² ≈ 1 ⇒ Poisson-like; ≫ 1 ⇒ bursty.
# Gaps are exact integer microseconds; Σg and Σg² ride DECIMAL(38,0)
# (g ≤ ~1e13 µs, g² ≤ 1e26 — room for 1e12 gaps), cast through VARCHAR
# (the parity final-cast rule); mean/var/CV² are one fixed shared-text
# chain over exact operands.


def _interarrival_sql(epoch_us: str) -> str:
    d38 = "DECIMAL(38,0)"
    mean = "(sg / CAST(n AS DOUBLE))"
    var = f"(sgg / CAST(n AS DOUBLE) - {mean} * {mean})"
    return f"""
WITH gaps AS (
  SELECT event_type,
         {epoch_us} - lag({epoch_us}) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS g
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum(CAST(g AS {d38})) AS STRING) AS DOUBLE) AS sg,
         CAST(CAST(sum(CAST(g AS {d38}) * CAST(g AS {d38})) AS STRING)
              AS DOUBLE) AS sgg
  FROM gaps WHERE g IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n,
       {mean} AS mean_gap_us,
       {var} AS var_gap_us,
       {var} / nullif({mean} * {mean}, 0e0) AS cv2
FROM agg
"""


@register(
    "events_interarrival_burstiness",
    oracle=_interarrival_sql("epoch_us(ts)"),
    description="inter-arrival burstiness per event type (CV² index of "
    "dispersion; ≈1 Poisson, ≫1 bursty): gaps from USER-partitioned "
    "lag windows, exact-integer Σg/Σg² through DECIMAL(38,0) with the "
    "VARCHAR final cast, one fixed shared-text moment chain",
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_interarrival_sql("unix_micros(ts)"))


# --- Wald-Wolfowitz up/down runs test ---
# Randomness check on the daily-total series: too FEW runs of
# consecutive up/down moves ⇒ trending; too MANY ⇒ oscillating. The
# up/down variant needs no median: signs are day-over-day differences
# (zero-diffs dropped per convention), the run count is 1 + the number
# of sign CHANGES. The classical constants are stated for N
# observations: E[R] = (2N−1)/3, Var[R] = (16N−29)/90; with n retained
# SIGNS (N = n+1) they become E[R] = (2n+1)/3, Var[R] = (16n−13)/90.
# Everything is exact integers until the final z chain.
# Scale: daily aggregate scan + calendar-bounded lag windows per type.


def _runs_test_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    nd = "CAST(n AS DOUBLE)"
    er = f"((2.0e0 * {nd} + 1.0e0) / 3.0e0)"
    vr = f"((16.0e0 * {nd} - 13.0e0) / 90.0e0)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
diffs AS (
  SELECT event_type, day,
         x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
),
signs AS (
  SELECT event_type, day,
         CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE d IS NOT NULL AND d <> 0
),
chg AS (
  SELECT event_type, s,
         lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev_s
  FROM signs
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(1 + sum(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM chg GROUP BY event_type
)
SELECT event_type, n, runs,
       (CAST(runs AS DOUBLE) - {er}) / nullif(sqrt({vr}), 0e0) AS z_stat
FROM agg
"""


@register(
    "stats_runs_test",
    oracle=_runs_test_sql("epoch_us(ts)"),
    description="Wald-Wolfowitz up/down (difference-sign) runs test on "
    "daily cents totals per type: sign sequence from calendar-bounded "
    "lag windows, zero-diffs dropped, run count = 1 + sign changes, "
    "E[R]=(2n+1)/3 and Var[R]=(16n−13)/90 (n = retained signs) in one "
    "fixed shared-text z "
    "chain — exact integers throughout",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_runs_test_sql("unix_micros(ts)"))


# --- Hodges-Lehmann location estimator (Walsh-average median) ---
# The point-estimate companion to stats_wilcoxon_signed_rank: the
# median of all Walsh averages (d_i + d_j)/2, i ≤ j, over the daily
# (purchase − click) cents diffs — the robust "typical daily gap"
# with 29% breakdown and the Wilcoxon test's implied location. Stays
# EXACT: Walsh sums S = d_i + d_j are BIGINTs; the median picks ranks
# ⌊(m+1)/2⌋ and ⌈(m+1)/2⌉ of the s-ordered table explicitly (no
# engine median() — DuckDB interpolates integer medians through
# DOUBLE, Spark through its own path; picking the two order statistics
# by row_number keeps the convention in OUR hands), and the estimate
# is (s_lo + s_hi)/4 — one shared-text division.
#
# Scale: the pair table is CALENDAR-quadratic (≤ 366·367/2 ≈ 67k rows
# at any data volume — the Theil-Sen cost model); the ranking window
# runs over that bounded table only.


def _hodges_lehmann_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100e0) AS BIGINT) ELSE 0 END)
            - sum(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100e0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS d
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY 1
),
idx AS (
  SELECT d, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i FROM daily
),
walsh AS (
  SELECT a.d + b.d AS s
  FROM idx a JOIN idx b ON b.i >= a.i
),
ranked AS (
  SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS m2
  FROM walsh
)
SELECT max(m2) AS n_walsh,
       CAST(sum(CASE WHEN r = CAST(floor((CAST(m2 AS DOUBLE) + 1.0e0) / 2.0e0)
                              AS BIGINT) THEN s ELSE 0 END)
            + sum(CASE WHEN r = CAST(floor((CAST(m2 AS DOUBLE) + 2.0e0) / 2.0e0)
                                AS BIGINT) THEN s ELSE 0 END)
            AS DOUBLE) / 4.0e0 AS hl_estimate_cents
FROM ranked
"""


@register(
    "stats_hodges_lehmann",
    oracle=_hodges_lehmann_sql("epoch_us(ts)"),
    description="Hodges-Lehmann location estimate (median of Walsh "
    "averages) of the daily purchase−click cents gap — the robust "
    "point estimate implied by the signed-rank test: exact BIGINT "
    "Walsh sums over the calendar-quadratic pair table (≤67k rows at "
    "any volume), explicit order-statistic picks instead of engine "
    "median() (integer-median conventions differ), one final ÷4",
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hodges_lehmann_sql("unix_micros(ts)"))


# --- McNemar test (paired binary classifiers) ---
# The paired-binary member of the agreement family (kappa measures
# agreement; McNemar tests whether the two DISAGREEMENT directions
# balance — the right test for "did the new model change errors
# asymmetrically on the same examples"). Raters on each event:
# A = cents ≥ threshold, B = is-purchase. Only the discordant cells
# matter: χ² = (b−c)²/(b+c), plus the Edwards continuity-corrected
# (|b−c|−1)²/(b+c). Exact integers → two one-shot divisions.
# Scale: ONE conditional aggregate, map-side combinable, 1-row output.

MCN_T = 25000  # cents threshold for rater A


def _mcnemar_sql() -> str:
    return f"""
WITH cells AS (
  SELECT
    CAST(sum(CASE WHEN CAST(round(value * 100e0) AS BIGINT) >= {MCN_T}
                   AND event_type <> 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(sum(CASE WHEN CAST(round(value * 100e0) AS BIGINT) < {MCN_T}
                   AND event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(count(*) AS BIGINT) AS n
  FROM events
)
SELECT n, b, c,
       CAST((b - c) * (b - c) AS DOUBLE)
         / nullif(CAST(b + c AS DOUBLE), 0e0) AS chi2,
       CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
         / nullif(CAST(b + c AS DOUBLE), 0e0) AS chi2_cc
FROM cells
"""


@register(
    "stats_mcnemar",
    oracle=_mcnemar_sql(),
    description=f"McNemar paired-binary test (rater A = cents ≥ "
    f"{MCN_T}, rater B = is-purchase): discordant-cell counts from ONE "
    "map-side conditional aggregate, χ² and the Edwards continuity-"
    "corrected form as one-shot divisions of exact integers — the "
    "model-vs-model error-shift test",
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mcnemar_sql())


# --- Cochran's Q (k paired binary treatments) ---
# The k-treatment generalization of McNemar and the BINARY Friedman:
# blocks = users, treatments = event types, x = "user has a HIGH-VALUE
# (cents ≥ 25000) event of this type" — plain did-the-type is
# degenerate on this corpus (every user did all 5 types, so the
# Σ R(k−R) denominator is exactly 0; engine and oracle both NULL —
# the Heaps-law saturation lesson again). All-zero blocks contribute
# nothing to any term and are dropped. The classical identity keeps
# EVERYTHING integer:
#   Q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣR_u²)
# with C_j = per-type success totals, R_u = per-user success counts,
# N = ΣC_j = ΣR_u. One (user) aggregate + one k-bounded aggregate;
# Q is a single division of exact BIGINTs.


def _cochran_q_sql() -> str:
    return """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE CAST(round(value * 100e0) AS BIGINT) >= 25000
),
k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM ut),
ru AS (SELECT user_id, CAST(count(*) AS BIGINT) AS r FROM ut GROUP BY user_id),
cj AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY event_type),
agg AS (
  SELECT (SELECT k FROM k) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM ru) AS n_blocks,
         (SELECT CAST(sum(r) AS BIGINT) FROM ru) AS n_tot,
         (SELECT CAST(sum(r * r) AS BIGINT) FROM ru) AS sum_r2,
         (SELECT CAST(sum(c * c) AS BIGINT) FROM cj) AS sum_c2
)
SELECT k, n_blocks,
       CAST((k - 1) * (k * sum_c2 - n_tot * n_tot) AS DOUBLE)
         / nullif(CAST(k * n_tot - sum_r2 AS DOUBLE), 0e0) AS q_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM agg
"""


@register(
    "stats_cochran_q",
    oracle=_cochran_q_sql(),
    description="Cochran's Q over k binary treatments (blocks = users "
    "with ≥1 high-value type, success = user has a cents ≥ 25000 event "
    "of that type — the unthresholded form is degenerate here): the "
    "all-integer "
    "identity Q = (k−1)(k·ΣC² − N²)/(k·N − ΣR²) — one distinct-pair "
    "aggregate, a user-grain and a k-bounded aggregate, one division; "
    "the binary Friedman / k-way McNemar",
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cochran_q_sql())


# --- Bartlett's test for homogeneity of variances ---
# The parametric sibling of stats_levene_bf (more powerful under
# normality, famously tail-sensitive otherwise — which is WHY both
# belong in the family): k groups (event types), response = cents.
#   χ² = [(N−k)·ln s_p² − Σ (n_j−1)·ln s_j²] / C,
#   C  = 1 + (Σ 1/(n_j−1) − 1/(N−k)) / (3(k−1)).
# ln must go through the deterministic integer-ln kernel, and the
# variances are rationals of huge exact integers (A_j = n·Σx² − (Σx)²
# needs DECIMAL(38,0)), so each variance is QUANTIZED to the nearest
# integer cents² before the kernel: one shared-text division of exact
# operands + round() (identical half-away semantics on positives in
# both engines). Variances here are O(1e8) cents², so the quantization
# perturbs ln by O(1e-8) — far below any decision threshold, identical
# on both engines, and documented rather than hidden.
#
# Scale: one conditional-moment aggregate (map-side combine, k rows),
# then k-row scalar math.


def _bartlett_sql() -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    d38 = "DECIMAL(38,0)"
    layers, last = dln_int_cte_layers([("vj", "bj"), ("vp", "bp")], "vt", "bl")
    return f"""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS s1,
         sum(CAST(CAST(round(value * 100e0) AS BIGINT) AS {d38})
             * CAST(CAST(round(value * 100e0) AS BIGINT) AS {d38})) AS s2
  FROM events
  GROUP BY event_type
),
v AS (
  SELECT event_type, n,
         CAST(round(
           CAST(CAST(CAST(n AS {d38}) * s2
                     - CAST(s1 AS {d38}) * CAST(s1 AS {d38}) AS STRING)
                AS DOUBLE)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0))
         ) AS BIGINT) AS vj
  FROM g
  WHERE n >= 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all,
         CAST(count(*) AS BIGINT) AS k,
         CAST(round(sum((CAST(n AS DOUBLE) - 1.0e0) * CAST(vj AS DOUBLE))
                    / (CAST(sum(n) AS DOUBLE) - CAST(count(*) AS DOUBLE)))
              AS BIGINT) AS vp,
         {dsum_expr("1.0e0 / (CAST(n AS DOUBLE) - 1.0e0)", 12)} AS inv_sum
  FROM v
),
vt AS (
  SELECT x.event_type, x.n, x.vj, t.n_all, t.k, t.vp, t.inv_sum
  FROM v x CROSS JOIN tot t
),
{layers},
asm AS (
  SELECT max(n_all) AS n_all, max(k) AS k, max(inv_sum) AS inv_sum,
         max(bp_ln) AS ln_vp,
         {dsum_expr("(CAST(n AS DOUBLE) - 1.0e0) * bj_ln", 6)} AS sum_term
  FROM {last}
)
SELECT n_all, k,
       ((CAST(n_all AS DOUBLE) - CAST(k AS DOUBLE)) * ln_vp - sum_term)
         / (1.0e0 + (inv_sum
                     - 1.0e0 / (CAST(n_all AS DOUBLE) - CAST(k AS DOUBLE)))
                    / (3.0e0 * (CAST(k AS DOUBLE) - 1.0e0))) AS chi2_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM asm
"""


@register(
    "stats_bartlett",
    oracle=_bartlett_sql(),
    description="Bartlett's variance-homogeneity test over k = 5 "
    "event-type groups (the parametric sibling of stats_levene_bf): "
    "exact DECIMAL(38,0) moment numerators, variances quantized to "
    "integer cents² (O(1e-8) relative ln perturbation, identical both "
    "engines) for the deterministic integer-ln kernel, fixed "
    "shared-text χ²/C chain; one k-row conditional-moment aggregate",
)
def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bartlett_sql())


# --- Mood's median test across event types ---
# The k-sample nonparametric location test in its cheapest form: does
# each group put the same share of mass above the POOLED median? All
# machinery is exact: values land in the cents domain (round(value·100)
# — the _SCORED discipline), the pooled lower median is the smallest
# cents value whose cumulative count reaches half of n (one window over
# the score-domain-BOUNDED per-cents table, the AUC pattern), the 2×k
# contingency cells are exact integer counts, and the Pearson χ² folds
# in event-type order (the stats_chi2_independence fold) so both
# engines add identical doubles in an identical order. df = k−1.
#
# Scale: one cents-domain aggregate (map-side combinable), one bounded
# cumulative window, one k-row finish.


def _mood_fold(which: str) -> str:
    if which == "spark":
        return (
            "aggregate(transform(array_sort(collect_list(struct(event_type,"
            " term))), s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(term ORDER BY event_type)), (acc, v) -> acc + v)"
    )


def _mood_sql(fold: str) -> str:
    return f"""
WITH scored AS (
  SELECT event_type, CAST(round(value * 100e0) AS BIGINT) AS s FROM events
),
per_s AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY s),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per_s),
cum AS (
  SELECT s, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cc
  FROM per_s
),
med AS (SELECT CAST(min(s) AS BIGINT) AS m FROM cum CROSS JOIN tot WHERE 2 * cc >= n),
cells AS (
  SELECT event_type,
         CAST(sum(CASE WHEN s > (SELECT m FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS o_hi,
         CAST(sum(CASE WHEN s <= (SELECT m FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS o_lo
  FROM scored GROUP BY event_type
),
marg AS (
  SELECT CAST(sum(o_hi) AS BIGINT) AS t_hi, CAST(sum(o_lo) AS BIGINT) AS t_lo,
         CAST(sum(o_hi + o_lo) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM cells
),
terms AS (
  SELECT c.event_type,
         (CAST(c.o_hi AS DOUBLE)
            - CAST(c.o_hi + c.o_lo AS DOUBLE) * t_hi / n)
         * (CAST(c.o_hi AS DOUBLE)
            - CAST(c.o_hi + c.o_lo AS DOUBLE) * t_hi / n)
         / nullif(CAST(c.o_hi + c.o_lo AS DOUBLE) * t_hi / n, 0e0)
         + (CAST(c.o_lo AS DOUBLE)
            - CAST(c.o_hi + c.o_lo AS DOUBLE) * t_lo / n)
         * (CAST(c.o_lo AS DOUBLE)
            - CAST(c.o_hi + c.o_lo AS DOUBLE) * t_lo / n)
         / nullif(CAST(c.o_hi + c.o_lo AS DOUBLE) * t_lo / n, 0e0) AS term
  FROM cells c CROSS JOIN marg
)
SELECT (SELECT m FROM med) AS median_cents,
       (SELECT k FROM marg) AS k,
       (SELECT n FROM marg) AS n,
       (SELECT k - 1 FROM marg) AS dof,
       (SELECT {fold} FROM terms) AS chi2
"""


@register(
    "stats_mood_median",
    oracle=_mood_sql(_mood_fold("duck")),
    description="Mood's median test across event types: pooled lower "
    "median from one bounded cumulative window over the cents domain, "
    "exact 2×k contingency cells, event-type-ordered χ² fold (df=k−1) "
    "— the robust k-sample location screen when Kruskal-Wallis's full "
    "ranking is overkill; one cents aggregate + a k-row finish",
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mood_sql(_mood_fold("spark")))


# --- Cronbach's alpha (internal consistency of the event-type "scale") ---
# Treat each event type as an item and each user as a subject, scored
# by their cents total on that item (missing item = 0 — the zero-fill
# is FREE because population moments over all N users only need sums
# over PRESENT cells). α = k/(k−1)·(1 − Σᵢ varᵢ / var_total), all
# variances population-style over N. Every data-touching sum is an
# exact integer (cents cells, DECIMAL(19,0)-routed squares, VARCHAR
# final cast); the k per-item variance terms fold in item order; the
# per-user totals' moments are exact the same way.
#
# Scale: one (user, item) cents aggregate, one |items|-row and one
# |users|-row re-aggregate — the classic two-level cube, all map-side
# combinable; the finish is k-bounded.

_D19A = "DECIMAL(19,0)"


def _cronbach_fold(which: str) -> str:
    if which == "spark":
        return (
            "aggregate(transform(array_sort(collect_list(struct(event_type,"
            " v_i))), s -> s.v_i), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(v_i ORDER BY event_type)), (acc, v) -> acc + v)"
    )


def _cronbach_sql(fold: str) -> str:
    return f"""
WITH cell AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY user_id, event_type
),
nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_subj FROM cell),
items AS (
  SELECT event_type,
         CAST(CAST(sum(CAST(x AS {_D19A})) AS STRING) AS DOUBLE) AS sx,
         CAST(CAST(sum(CAST(x AS {_D19A}) * CAST(x AS {_D19A}))
              AS STRING) AS DOUBLE) AS sxx
  FROM cell GROUP BY event_type
),
ivar AS (
  SELECT event_type,
         sxx / CAST(n_subj AS DOUBLE)
           - (sx / CAST(n_subj AS DOUBLE)) * (sx / CAST(n_subj AS DOUBLE))
           AS v_i
  FROM items CROSS JOIN nu
),
totals AS (SELECT user_id, CAST(sum(x) AS BIGINT) AS t FROM cell GROUP BY user_id),
tvar AS (
  SELECT CAST(CAST(sum(CAST(t AS {_D19A})) AS STRING) AS DOUBLE) AS st,
         CAST(CAST(sum(CAST(t AS {_D19A}) * CAST(t AS {_D19A}))
              AS STRING) AS DOUBLE) AS stt
  FROM totals
),
fin AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM items) AS k,
         (SELECT n_subj FROM nu) AS n_subj,
         (SELECT {fold} FROM ivar) AS sum_item_var,
         (SELECT stt / CAST(n_subj AS DOUBLE)
            - (st / CAST(n_subj AS DOUBLE)) * (st / CAST(n_subj AS DOUBLE))
          FROM tvar CROSS JOIN nu) AS total_var
)
SELECT k, n_subj, sum_item_var, total_var,
       (CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0e0))
         * (1.0e0 - sum_item_var / nullif(total_var, 0e0)) AS alpha
FROM fin
"""


@register(
    "stats_cronbach_alpha",
    oracle=_cronbach_sql(_cronbach_fold("duck")),
    description="Cronbach's alpha over the user×event-type cents "
    "matrix (items = event types, zero-filled for free via population "
    "moments over all N subjects): exact integer cells, DECIMAL(19,0)-"
    "routed squares with the VARCHAR final cast, item-ordered variance "
    "fold — the internal-consistency check before trusting a composite "
    "engagement score; two-level cube aggregates, k-bounded finish",
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cronbach_sql(_cronbach_fold("spark")))


# --- ICC(1,1): one-way random-effects intraclass correlation ---
# How much of event-value variance is BETWEEN users vs within them —
# the users-as-raters reliability decomposition (Shrout & Fleiss 1979
# case 1, unbalanced groups with the k₀ adjusted mean group size):
#   MSW = SSW/(N−G), MSB = SSB/(G−1),
#   k₀ = (N − Σnᵢ²/N)/(G−1),  ICC = (MSB−MSW)/(MSB+(k₀−1)·MSW).
# Per-group sums Σy, Σy² are exact cents integers carried in wide
# integers end-to-end (Spark DECIMAL / DuckDB HUGEINT — nested sums
# stay exact). The one intrinsically RATIONAL cross-group sum,
# S₂ = Σᵢ(Σyᵢ)²/nᵢ, is decomposed by exact integer division
# (Σyᵢ)² = qᵢ·nᵢ + rᵢ: Σqᵢ is an exact wide-integer sum and only
# Σ(rᵢ/nᵢ) — each term in [0,1) — crosses groups as a float, decimal-
# routed at scale 12 where the parity.py magnitude estimate stays ≪1
# through ~1e7 groups. (A first draft summed the raw rationals at
# scale 0; the per-row double→DECIMAL coin flip hit at sf0.1 — the
# stats_bartlett magnitude lesson, re-learned and re-fixed.)
#
# ENGINE-SIDE DIVISION SPLIT (r10, ADVICE item): Spark's `div` is
# IntegralDivide and ALWAYS returns BIGINT, whatever the operand
# type — so `(Σy)² div nᵢ` wraps silently once the quotient nᵢ·ȳ²
# exceeds 2⁶³ (ȳ ≈ 1e5 cents ⇒ nᵢ ≳ 1e9 rows/user), and sum(BIGINT)
# wraps once Σqᵢ ≈ N·ȳ² does (N ≳ 1e9), while the DuckDB oracle's
# HUGEINT `//` stays int128 — a latent engine/oracle divergence.
# The engine therefore derives the same split with the ladder
#   Σy = a·nᵢ + r  (BIGINT div, trunc; |r| < nᵢ, exact — Σy is int64)
#   (Σy)² = a²nᵢ² + 2·a·r·nᵢ + r²
#   ⇒ qᵢ = a²·nᵢ + 2·a·r + (r² div nᵢ),  rᵢ = r² mod nᵢ
# where every `div` operand is int64 (r² < nᵢ² needs nᵢ < 3.04e9 —
# the one documented bound) and the wide products a²·nᵢ, 2·a·r live
# in DECIMAL(38,0) with an exact DECIMAL(38,0) sum. Trunc semantics
# match (Spark div ≡ DuckDB // toward zero, verified −7//2 = −3 on
# both). The oracle keeps the DIRECT `(Σy)² // nᵢ` HUGEINT form, so
# parity now cross-checks two independent derivations.
#
# Scale: one (user) aggregate with map-side combine, one G-row
# re-aggregate, a 1-row finish.


def _icc_sql(idiv: str, w19: str, split: bool = False) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    sq = f"CAST(sy AS {w19}) * CAST(sy AS {w19})"
    if split:
        per_g2 = f"""
per_g1 AS (
  SELECT n_i, sy, syy,
         sy {idiv} n_i AS a,
         sy - (sy {idiv} n_i) * n_i AS r
  FROM per_g
),
per_g2 AS (
  SELECT n_i, sy, syy,
         CAST(a AS {w19}) * CAST(a AS {w19}) * n_i
           + 2 * CAST(a AS {w19}) * r
           + (r * r) {idiv} n_i AS s2_q,
         (r * r) - ((r * r) {idiv} n_i) * n_i AS s2_r
  FROM per_g1
),"""
    else:
        per_g2 = f"""
per_g2 AS (
  SELECT n_i, sy, syy,
         ({sq}) {idiv} n_i AS s2_q,
         ({sq}) - (({sq}) {idiv} n_i) * n_i AS s2_r
  FROM per_g
),"""
    return f"""
WITH y AS (
  SELECT user_id, CAST(round(value * 100e0) AS BIGINT) AS y FROM events
),
per_g AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(y AS {w19}) * CAST(y AS {w19})) AS syy
  FROM y GROUP BY user_id
),{per_g2}
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_i) AS BIGINT) AS n_tot,
         CAST(sum(sy) AS BIGINT) AS sy_tot,
         CAST(CAST(sum(CAST(n_i AS {w19}) * CAST(n_i AS {w19})) AS STRING)
              AS DOUBLE) AS sum_ni_sq,
         CAST(CAST(sum(syy) AS STRING) AS DOUBLE) AS syy_tot,
         CAST(CAST(sum(s2_q) AS STRING) AS DOUBLE)
           + {dsum_expr("CAST(s2_r AS DOUBLE) / CAST(n_i AS DOUBLE)", 12)}
           AS s2
  FROM per_g2
),
ms AS (
  SELECT n_groups, n_tot,
         (syy_tot - s2) / (CAST(n_tot AS DOUBLE) - CAST(n_groups AS DOUBLE))
           AS msw,
         (s2 - CAST(sy_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE)
                 / CAST(n_tot AS DOUBLE))
           / (CAST(n_groups AS DOUBLE) - 1.0e0) AS msb,
         (CAST(n_tot AS DOUBLE) - sum_ni_sq / CAST(n_tot AS DOUBLE))
           / (CAST(n_groups AS DOUBLE) - 1.0e0) AS k0
  FROM g
)
SELECT n_groups, n_tot, msw, msb, k0,
       (msb - msw) / nullif(msb + (k0 - 1.0e0) * msw, 0e0) AS icc1
FROM ms
"""


@register(
    "stats_icc",
    oracle=_icc_sql("//", "HUGEINT"),
    description="ICC(1,1) one-way random-effects intraclass correlation "
    "of event cents by user (unbalanced k₀ form): wide-integer moment "
    "sums end-to-end, the rational Σ(Σyᵢ)²/nᵢ split by exact integer "
    "division so only [0,1) remainders cross groups as floats, one "
    "fixed double chain for MSW/MSB/k₀/ICC — how much variance is "
    "between users vs within; a two-level aggregate and a 1-row finish",
)
def stats_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_icc_sql("div", "DECIMAL(19,0)", split=True))


# --- Lin's concordance correlation (daily purchase vs click revenue) ---
# Pearson asks "correlated?"; Lin's CCC asks "do they AGREE along the
# 45° line?" — the right reproducibility metric when one daily series
# should reproduce another:
#   CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)
# over the day-joined daily cents totals of the two event types. All
# five moments are exact integers (DECIMAL(19,0)-routed products,
# VARCHAR final cast); CCC and Pearson r finish in one fixed double
# chain, so both engines emit bit-identical values. The scale shift
# C_b = CCC/r rides along (accuracy vs precision split).
#
# Scale: one (type, day) aggregate, a calendar-bounded day join, one
# 1-row reduce.

_CCC_A, _CCC_B = "purchase", "click"


def _ccc_sql(epoch_us: str) -> str:
    d19 = "DECIMAL(19,0)"
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    xa, xb = f"CAST(p.x AS {d19})", f"CAST(c.x AS {d19})"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events
  WHERE event_type IN ('{_CCC_A}', '{_CCC_B}')
  GROUP BY event_type, {day}
),
j AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum({xa}) AS STRING) AS DOUBLE) AS sa,
         CAST(CAST(sum({xb}) AS STRING) AS DOUBLE) AS sb,
         CAST(CAST(sum({xa} * {xa}) AS STRING) AS DOUBLE) AS saa,
         CAST(CAST(sum({xb} * {xb}) AS STRING) AS DOUBLE) AS sbb,
         CAST(CAST(sum({xa} * {xb}) AS STRING) AS DOUBLE) AS sab
  FROM (SELECT day, x FROM daily WHERE event_type = '{_CCC_A}') p
  JOIN (SELECT day, x FROM daily WHERE event_type = '{_CCC_B}') c
    ON c.day = p.day
),
m AS (
  SELECT n,
         sa / CAST(n AS DOUBLE) AS ma, sb / CAST(n AS DOUBLE) AS mb,
         saa / CAST(n AS DOUBLE)
           - (sa / CAST(n AS DOUBLE)) * (sa / CAST(n AS DOUBLE)) AS va,
         sbb / CAST(n AS DOUBLE)
           - (sb / CAST(n AS DOUBLE)) * (sb / CAST(n AS DOUBLE)) AS vb,
         sab / CAST(n AS DOUBLE)
           - (sa / CAST(n AS DOUBLE)) * (sb / CAST(n AS DOUBLE)) AS cab
  FROM j
)
SELECT n AS n_days, ma AS mean_a, mb AS mean_b,
       cab / nullif(sqrt(va) * sqrt(vb), 0e0) AS pearson_r,
       2.0e0 * cab / nullif(va + vb + (ma - mb) * (ma - mb), 0e0) AS ccc,
       (2.0e0 * cab / nullif(va + vb + (ma - mb) * (ma - mb), 0e0))
         / nullif(cab / nullif(sqrt(va) * sqrt(vb), 0e0), 0e0) AS c_b
FROM m
"""


@register(
    "stats_lin_ccc",
    oracle=_ccc_sql("epoch_us(ts)"),
    description=f"Lin's concordance correlation between daily "
    f"{_CCC_A} and {_CCC_B} cents totals (+ Pearson r and the C_b "
    "accuracy factor): five exact integer moments via DECIMAL(19,0)-"
    "routed products and the VARCHAR final cast, one fixed double "
    "chain — agreement along the 45° line, not just correlation; one "
    "daily aggregate + a calendar-bounded join",
)
def stats_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ccc_sql("unix_micros(ts)"))


# --- Mantel-Haenszel stratified 2×2 association ---
# Is purchase-hood associated with high value AFTER controlling for
# day-of-week? Strata s = weekday of the event day; per stratum the
# 2×2 cells (a,b,c,d) of (is-purchase × value ≥ threshold) are exact
# integer counts. The common odds ratio and the CMH χ² (no continuity
# correction — stated convention):
#   OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ),
#   χ²   = (Σaᵢ − Σ r1ᵢc1ᵢ/nᵢ)² / Σ [r1ᵢr0ᵢc1ᵢc0ᵢ/(nᵢ²(nᵢ−1))].
# Each per-stratum term is one fixed shared-text double expression of
# exact integers; the four cross-stratum double sums fold in stratum
# order (7 elements) — bit-identical on both engines.
#
# Scale: one (stratum, exposure, outcome) count aggregate — 28 cells
# regardless of data volume; everything downstream is stratum-bounded.

_MH_THRESH = 25000  # cents


def _mh_fold(which: str, col: str) -> str:
    if which == "spark":
        return (
            f"aggregate(transform(array_sort(collect_list(struct(dow,"
            f" {col}))), s -> s.{col}), CAST(0.0 AS DOUBLE),"
            " (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list({col} ORDER BY dow)), (acc, v) -> acc + v)"
    )


def _mh_sql(epoch_us: str, which: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH base AS (
  SELECT {day} % 7 AS dow,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS expo,
         CASE WHEN CAST(round(value * 100e0) AS BIGINT) >= {_MH_THRESH}
              THEN 1 ELSE 0 END AS outc
  FROM events
),
cells AS (
  SELECT dow,
         CAST(sum(expo * outc) AS BIGINT) AS a,
         CAST(sum(expo * (1 - outc)) AS BIGINT) AS b,
         CAST(sum((1 - expo) * outc) AS BIGINT) AS c,
         CAST(sum((1 - expo) * (1 - outc)) AS BIGINT) AS d
  FROM base GROUP BY dow
),
terms AS (
  SELECT dow, a,
         CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / CAST(a + b + c + d AS DOUBLE) AS ad_n,
         CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / CAST(a + b + c + d AS DOUBLE) AS bc_n,
         CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
           / CAST(a + b + c + d AS DOUBLE) AS e1,
         CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
           * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
           / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
              * (CAST(a + b + c + d AS DOUBLE) - 1.0e0)) AS v1
  FROM cells
),
folded AS (
  SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_strata,
         CAST((SELECT sum(a) FROM cells) AS BIGINT) AS sum_a,
         (SELECT {_mh_fold(which, "ad_n")} FROM terms) AS s_ad,
         (SELECT {_mh_fold(which, "bc_n")} FROM terms) AS s_bc,
         (SELECT {_mh_fold(which, "e1")} FROM terms) AS s_e,
         (SELECT {_mh_fold(which, "v1")} FROM terms) AS s_v
)
SELECT n_strata, sum_a, s_e AS sum_expected,
       s_ad / nullif(s_bc, 0e0) AS or_mh,
       (CAST(sum_a AS DOUBLE) - s_e) * (CAST(sum_a AS DOUBLE) - s_e)
         / nullif(s_v, 0e0) AS cmh_chi2
FROM folded
"""


@register(
    "stats_mantel_haenszel",
    oracle=_mh_sql("epoch_us(ts)", "duck"),
    description="Mantel-Haenszel common odds ratio + CMH χ² (no "
    "continuity correction) for purchase × high-value stratified by "
    "weekday: exact integer 2×2 cells per stratum, fixed shared-text "
    "per-stratum rationals, stratum-ordered folds for the four cross-"
    "stratum sums — confounder-adjusted association; one 28-cell "
    "aggregate, stratum-bounded finish",
)
def stats_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mh_sql("unix_micros(ts)", "spark"))


# --- Page's L trend test (ordered alternative to Friedman) ---
# Friedman asks "do the k treatments differ at all?"; Page's L asks
# "do they increase in a PRE-SPECIFIED order?" — much more power when
# the alternative is monotone. Blocks = days, treatments = event types
# in ALPHABETICAL order (the declared ordering c_j = 1..k), scores =
# daily cents totals, midranks within each zero-filled block (the
# stats_friedman_test doubled-rank machinery reused verbatim):
#   L = Σ_j c_j·R_j,  E[L] = N·k(k+1)²/4,
#   Var[L] = N·k²(k+1)²(k−1)/144  (tie-uncorrected, the classical
#   no-ties null — stated convention),
# z = (L−E)/√Var. With doubled ranks L2 = 2L stays an exact BIGINT;
# E and Var close in one fixed shared-text double chain.
#
# Scale: identical envelope to Friedman — one (day, type) aggregate,
# a k-bounded per-day rank join, calendar-bounded everything after.


def _page_sql(epoch_us: str) -> str:
    day = f"CAST(floor({epoch_us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH cells0 AS (
  SELECT {day} AS day, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS v
  FROM events
  GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM cells0),
types AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS c_j
  FROM (SELECT DISTINCT event_type FROM cells0) t
),
cells AS (
  SELECT d.day, t.event_type, t.c_j, coalesce(c.v, 0) AS v
  FROM days d CROSS JOIN types t
  LEFT JOIN cells0 c ON c.day = d.day AND c.event_type = t.event_type
),
ranked AS (
  SELECT a.day, a.event_type, max(a.c_j) AS c_j,
         CAST(2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1
              AS BIGINT) AS r2
  FROM cells a
  JOIN cells b ON b.day = a.day
  GROUP BY a.day, a.event_type
),
sums AS (
  SELECT CAST(sum(c_j * r2) AS BIGINT) AS l2
  FROM ranked
),
consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM types) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM days) AS n
)
SELECT c.k, c.n,
       CAST(s.l2 AS DOUBLE) / 2.0e0 AS l_stat,
       CAST(c.n AS DOUBLE) * CAST(c.k AS DOUBLE)
         * (CAST(c.k AS DOUBLE) + 1.0e0) * (CAST(c.k AS DOUBLE) + 1.0e0)
         / 4.0e0 AS l_expected,
       (CAST(s.l2 AS DOUBLE) / 2.0e0
          - CAST(c.n AS DOUBLE) * CAST(c.k AS DOUBLE)
            * (CAST(c.k AS DOUBLE) + 1.0e0) * (CAST(c.k AS DOUBLE) + 1.0e0)
            / 4.0e0)
         / nullif(sqrt(CAST(c.n AS DOUBLE)
                       * CAST(c.k AS DOUBLE) * CAST(c.k AS DOUBLE)
                       * (CAST(c.k AS DOUBLE) + 1.0e0)
                       * (CAST(c.k AS DOUBLE) + 1.0e0)
                       * (CAST(c.k AS DOUBLE) - 1.0e0) / 144.0e0), 0e0)
         AS z
FROM sums s CROSS JOIN consts c
"""


@register(
    "stats_page_trend",
    oracle=_page_sql("epoch_us(ts)"),
    description="Page's L trend test for a monotone ordered alternative "
    "(treatments = event types in alphabetical order, blocks = days, "
    "midranks on zero-filled daily cents — the Friedman doubled-rank "
    "machinery reused): L2 = 2L stays an exact BIGINT, E[L] and the "
    "tie-uncorrected Var[L] close in one fixed double chain — the "
    "higher-power sibling when the alternative is ordered; Friedman's "
    "scale envelope",
)
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_page_sql("unix_micros(ts)"))


# --- k-sample Anderson-Darling (Scholz-Stephens 1987), tie-adjusted ---
# The heavyweight k-sample EDF test the ladder was missing (Kruskal-
# Wallis ranks locations; AD weights the FULL distribution, tails
# included). The tie-adjusted statistic over distinct pooled values j
# with multiplicity l_j, pooled midrank cumulative B_j and per-sample
# midrank cumulative M_ij becomes, after clearing denominators with
# B2 = 2·cum − l and M2 = 2·cumBefore + c (all EXACT integers):
#   A²akN = (N−1)/N · Σ_{i,j} l_j·Q_ij²
#            / (n_i·(B2_j·(2N−B2_j) − N·l_j)),   Q = N·M2 − n_i·B2.
# Every input to a term is an exact integer below 2^53 through sf10
# (N·M2 ≤ 2N² ≈ 7e15 at 60M rows — route through DECIMAL(19,0) like
# graph_modularity beyond that); each term is one fixed shared-text
# double expression, dsum-routed across the (k × distinct-values)
# grid.
#
# The null mean is k−1; the variance needs the Scholz-Stephens
# constants H = Σ1/nᵢ (k-bounded fold), h = Σ_{i<N} 1/i, and the
# double harmonic sum g = Σ_{i<N−1} Σ_{i<j<N} 1/((N−i)j) —
# re-indexed to g = Σ_j (1/j)·(h_{N−1} − h_{N−j}) so it needs ONE
# harmonic prefix table: 1/m quantized to round(1e15/m) (identical
# integer on both engines), prefix-summed DISTRIBUTED on the engine
# (operators/ranking.global_running_sums — no single-partition window
# over N rows) and by a plain window in the DuckDB oracle, then one
# 1:1 join on m = N−j. The normalization is O(N) compute for a
# CONSTANT — embarrassingly parallel, and the only exact way to get
# the published σ²_N.
#
#   σ²_N = (aN³ + bN² + cN + d)/((N−1)(N−2)(N−3)),
#   a = (4g−6)(k−1) + (10−6g)H
#   b = (2g−4)k² + 8hk + (2g−14h−4)H − 8h + 4g − 6
#   c = (6h+2g−2)k² + (4h−4g+6)k + (2h−6)H + 4h
#   d = (2h+6)k² − 4hk
#   T_kN = (A² − (k−1))/σ_N.
#
# Scale: one cents aggregate, bounded-domain windows (distinct cents ×
# k grid), the O(N) harmonic prefix (distributed two-pass), a 1-row
# finish.


def _adk_fold_h(which: str) -> str:
    if which == "spark":
        return (
            "aggregate(transform(array_sort(collect_list(struct(g, hv))), "
            "s -> s.hv), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(hv ORDER BY g)), (acc, v) -> acc + v)"
    )


def _adk_edf_sql(fold_h: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    nn, ni = "CAST(n AS DOUBLE)", "CAST(n_i AS DOUBLE)"
    b2, m2, ll = "CAST(2 * cum - l AS DOUBLE)", "CAST(m2 AS DOUBLE)", "CAST(l AS DOUBLE)"
    q = f"({nn} * {m2} - {ni} * {b2})"
    den = f"({ni} * ({b2} * (2.0e0 * {nn} - {b2}) - {nn} * {ll}))"
    return f"""
WITH scored AS (
  SELECT event_type AS g, CAST(round(value * 100e0) AS BIGINT) AS v
  FROM events
),
samp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_i FROM scored GROUP BY g),
tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
        FROM samp),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS l FROM scored GROUP BY v),
pool AS (
  SELECT v, l,
         CAST(sum(l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM vals
),
cell AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY v, g),
grid AS (
  SELECT p.v, p.l, p.cum, s.g, s.n_i, coalesce(c.c, CAST(0 AS BIGINT)) AS c
  FROM pool p CROSS JOIN samp s
  LEFT JOIN cell c ON c.v = p.v AND c.g = s.g
),
mcur AS (
  SELECT v, l, cum, g, n_i,
         CAST(2 * sum(c) OVER (PARTITION BY g ORDER BY v
                               ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS m2
  FROM grid
),
terms AS (
  SELECT m.g, m.v, {ll} * {q} * {q} / nullif({den}, 0e0) AS term
  FROM mcur m CROSS JOIN tot
),
hterms AS (SELECT g, 1.0e0 / CAST(n_i AS DOUBLE) AS hv FROM samp)
SELECT t.n, t.k,
       (SELECT {fold_h} FROM hterms) AS h_cap,
       ((CAST(t.n AS DOUBLE) - 1.0e0) / CAST(t.n AS DOUBLE))
         * (SELECT {dsum_expr("term", 6)} FROM terms) AS a2
FROM tot t
"""


def _adk_final_sql(src: str) -> str:
    """Shared-text closing chain over columns (n, k, h_cap, h_small,
    g_small, a2) — the Scholz-Stephens variance polynomial + T_kN."""
    N, K = "CAST(n AS DOUBLE)", "CAST(k AS DOUBLE)"
    H, h, g = "h_cap", "h_small", "g_small"
    a = f"((4.0e0 * {g} - 6.0e0) * ({K} - 1.0e0) + (10.0e0 - 6.0e0 * {g}) * {H})"
    b = (
        f"((2.0e0 * {g} - 4.0e0) * {K} * {K} + 8.0e0 * {h} * {K}"
        f" + (2.0e0 * {g} - 14.0e0 * {h} - 4.0e0) * {H}"
        f" - 8.0e0 * {h} + 4.0e0 * {g} - 6.0e0)"
    )
    c = (
        f"((6.0e0 * {h} + 2.0e0 * {g} - 2.0e0) * {K} * {K}"
        f" + (4.0e0 * {h} - 4.0e0 * {g} + 6.0e0) * {K}"
        f" + (2.0e0 * {h} - 6.0e0) * {H} + 4.0e0 * {h})"
    )
    d = f"((2.0e0 * {h} + 6.0e0) * {K} * {K} - 4.0e0 * {h} * {K})"
    var = (
        f"(({a} * {N} * {N} * {N} + {b} * {N} * {N} + {c} * {N} + {d})"
        f" / (({N} - 1.0e0) * ({N} - 2.0e0) * ({N} - 3.0e0)))"
    )
    return f"""
SELECT n, k, a2,
       {K} - 1.0e0 AS a2_mean,
       {var} AS a2_var,
       (a2 - ({K} - 1.0e0)) / nullif(sqrt({var}), 0e0) AS t_kn
FROM {src}
"""


_ADK_Q15 = "1e15"


def _adk_oracle() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    edf = _adk_edf_sql(_adk_fold_h("duck"))
    harm = f"""
WITH edf AS ({edf}),
seq AS (SELECT unnest(generate_series(1,
          (SELECT CAST(n - 1 AS BIGINT) FROM edf))) AS m),
rq AS (SELECT m, CAST(round({_ADK_Q15} / CAST(m AS DOUBLE)) AS BIGINT) AS r
       FROM seq),
pr AS (SELECT m, CAST(sum(r) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS run_r FROM rq),
hr AS (SELECT {dsum_expr("1.0e0 / CAST(m AS DOUBLE)", 9)} AS h_small FROM seq),
rt AS (SELECT max(run_r) AS rtot FROM pr),
gr AS (
  SELECT {dsum_expr(
      "(1.0e0 / CAST(j AS DOUBLE)) * (CAST(rtot - run_r AS DOUBLE) / "
      + _ADK_Q15 + ")", 9)} AS g_small
  FROM (SELECT m AS j FROM seq WHERE m >= 2) gj
  JOIN pr ON pr.m = (SELECT n FROM edf) - gj.j
  CROSS JOIN rt
),
fin AS (
  SELECT e.n, e.k, e.h_cap, h.h_small, g.g_small, e.a2
  FROM edf e CROSS JOIN hr h CROSS JOIN gr g
)
{_adk_final_sql("fin")}
"""
    return harm


@register(
    "stats_anderson_darling_k",
    oracle=_adk_oracle(),
    description="k-sample Anderson-Darling (Scholz-Stephens, tie-"
    "adjusted A²akN + standardized T_kN): all-integer EDF terms over "
    "the bounded (distinct cents × k) grid, and the exact published "
    "normalization — H from a k-fold, h and the double harmonic sum g "
    "from a quantized 1/m prefix computed DISTRIBUTED on the engine "
    "(global_running_sums, no single-partition window over N rows) vs "
    "a plain window in the oracle; the full-distribution k-sample "
    "test Kruskal-Wallis isn't",
)
def stats_anderson_darling_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as FX

    from posting_lines_spark.operators.ranking import global_running_sums
    from posting_lines_spark.queries.parity import dsum_expr

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    edf = spark.sql(_adk_edf_sql(_adk_fold_h("spark")))
    n = edf.select("n").collect()[0][0]
    rng = spark.range(1, n).selectExpr(
        "id AS m",
        f"CAST(round({_ADK_Q15} / CAST(id AS DOUBLE)) AS BIGINT) AS r",
    )
    pr = global_running_sums(rng, ["m"], ["r"])
    hr = rng.selectExpr(f"{dsum_expr('1.0e0 / CAST(m AS DOUBLE)', 9)} AS h_small")
    rt = pr.selectExpr("max(run_r) AS rtot")
    gj = spark.range(2, n).selectExpr("id AS j").withColumn(
        "m", FX.lit(int(n)) - FX.col("j")
    )
    gr = (
        gj.join(pr.select("m", "run_r"), "m")
        .crossJoin(FX.broadcast(rt))
        .selectExpr(
            dsum_expr(
                "(1.0e0 / CAST(j AS DOUBLE)) * (CAST(rtot - run_r AS DOUBLE) / "
                + _ADK_Q15 + ")",
                9,
            )
            + " AS g_small"
        )
    )
    fin = edf.crossJoin(FX.broadcast(hr)).crossJoin(FX.broadcast(gr))
    fin.createOrReplaceTempView("pls_adk_fin")
    return spark.sql(_adk_final_sql("pls_adk_fin"))


# --- Brunner-Munzel test (the modern Mann-Whitney replacement) ---
# Mann-Whitney assumes equal variances under H0; Brunner-Munzel (2000)
# doesn't — it tests P(X < Y) + ½P(X = Y) = ½ with a Welch-style
# t-approximation, which is what current stats practice reaches for
# first. Same two samples as stats_mann_whitney/stats_welch_ttest
# (purchase vs click cents). Everything data-touching is EXACT:
# doubled pooled midranks 2R = 2·cumB + l + 1 and doubled within-
# sample midranks 2r = 2·cumB_i + c + 1 come from cents-domain-bounded
# cumulative windows; the per-value placement deviation is cleared of
# its rational mean by T_iv = n_i·(2R − 2r + n_i + 1) − 2·Σ(2R·c)_i/2
# ... concretely T_iv = n_i·(2R_v − 2r_iv) + n_i·(n_i + 1) − 2·X_i
# with X_i = Σ_v c_iv·R·2/2 (exact), so Σ_v c_iv·T_iv² is an exact
# wide-integer sum (≤ ~1e33 — DECIMAL(38,0)/HUGEINT, VARCHAR final
# cast) and S_i² = that / (4n_i²·(n_i−1)). The scipy convention is
# the stated one: W = n₁n₂(R̄₂ − R̄₁)/((n₁+n₂)·√(n₁S₁² + n₂S₂²)),
# Satterthwaite df, plus the p̂ = P(X<Y)+½P(X=Y) estimate.
#
# Scale: one cents-domain aggregate, two bounded cumulative windows,
# a 2-row finish — the Mann-Whitney envelope exactly.


def _bm_sql(w19: str) -> str:
    return f"""
WITH scored AS (
  SELECT CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 2 END AS i,
         CAST(round(value * 100e0) AS BIGINT) AS v
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
),
samp AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM scored GROUP BY i),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS l FROM scored GROUP BY v),
pool AS (
  SELECT v, l,
         CAST(2 * (sum(l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - l)
              + l + 1 AS BIGINT) AS r2
  FROM vals
),
cell AS (SELECT v, i, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY v, i),
wr AS (
  SELECT c.v, c.i, c.c, p.r2, p.l, s.n_i,
         CAST(2 * (sum(c.c) OVER (PARTITION BY c.i ORDER BY c.v
                                  ROWS UNBOUNDED PRECEDING) - c.c)
              + c.c + 1 AS BIGINT) AS w2
  FROM cell c
  JOIN pool p ON p.v = c.v
  JOIN samp s ON s.i = c.i
),
xs AS (
  SELECT i, CAST(max(n_i) AS BIGINT) AS n_i,
         CAST(sum(c * r2) AS BIGINT) AS x2
  FROM wr GROUP BY i
),
ss AS (
  SELECT w.i,
         CAST(CAST(sum(CAST(w.c AS {w19})
              * (CAST(w.n_i * (w.r2 - w.w2) + w.n_i * (w.n_i + 1) - x.x2
                      AS {w19})
                 * CAST(w.n_i * (w.r2 - w.w2) + w.n_i * (w.n_i + 1) - x.x2
                        AS {w19}))) AS STRING) AS DOUBLE) AS sum_t2
  FROM wr w JOIN xs x ON x.i = w.i
  GROUP BY w.i
),
fin AS (
  SELECT x1.n_i AS n1, x2.n_i AS n2,
         CAST(x1.x2 AS DOUBLE) / (2.0e0 * CAST(x1.n_i AS DOUBLE)) AS rb1,
         CAST(x2.x2 AS DOUBLE) / (2.0e0 * CAST(x2.n_i AS DOUBLE)) AS rb2,
         s1.sum_t2 / (4.0e0 * CAST(x1.n_i AS DOUBLE) * CAST(x1.n_i AS DOUBLE)
                      * (CAST(x1.n_i AS DOUBLE) - 1.0e0)) AS s1sq,
         s2.sum_t2 / (4.0e0 * CAST(x2.n_i AS DOUBLE) * CAST(x2.n_i AS DOUBLE)
                      * (CAST(x2.n_i AS DOUBLE) - 1.0e0)) AS s2sq
  FROM (SELECT * FROM xs WHERE i = 1) x1
  CROSS JOIN (SELECT * FROM xs WHERE i = 2) x2
  JOIN (SELECT * FROM ss WHERE i = 1) s1 ON 1 = 1
  JOIN (SELECT * FROM ss WHERE i = 2) s2 ON 1 = 1
)
SELECT n1, n2,
       (rb2 - (CAST(n2 AS DOUBLE) + 1.0e0) / 2.0e0) / CAST(n1 AS DOUBLE)
         AS p_hat,
       CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (rb2 - rb1)
         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         / nullif(sqrt(CAST(n1 AS DOUBLE) * s1sq
                       + CAST(n2 AS DOUBLE) * s2sq), 0e0) AS w_stat,
       (CAST(n1 AS DOUBLE) * s1sq + CAST(n2 AS DOUBLE) * s2sq)
         * (CAST(n1 AS DOUBLE) * s1sq + CAST(n2 AS DOUBLE) * s2sq)
         / nullif(
             (CAST(n1 AS DOUBLE) * s1sq) * (CAST(n1 AS DOUBLE) * s1sq)
               / (CAST(n1 AS DOUBLE) - 1.0e0)
             + (CAST(n2 AS DOUBLE) * s2sq) * (CAST(n2 AS DOUBLE) * s2sq)
               / (CAST(n2 AS DOUBLE) - 1.0e0), 0e0) AS df
FROM fin
"""


@register(
    "stats_brunner_munzel",
    oracle=_bm_sql("HUGEINT"),
    description=f"Brunner-Munzel test ({_MW_A} vs {_MW_B} cents, scipy "
    "convention): doubled pooled/within-sample midranks from bounded "
    "cumulative windows, placement variances as exact wide-integer "
    "Σc·T² (mean cleared by integer algebra, VARCHAR final cast), "
    "then one fixed double chain for p̂ = P(X<Y)+½P(X=Y), W, and the "
    "Satterthwaite df — the unequal-variance rank test that replaces "
    "Mann-Whitney in modern practice; same scale envelope",
)
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bm_sql("DECIMAL(19,0)"))


# --- k-sample Cramér-von Mises statistic ---
# The L² companion of stats_anderson_darling_k (AD up-weights tails;
# CvM weights uniformly — the pair brackets EDF-distance practice):
#   T = (1/N) Σ_i n_i Σ_j (l_j/N) · (F_ij − F̄_j)²
# with right-continuous EDFs at the distinct pooled values (stated
# convention), F_ij = cum_ij/n_i, F̄_j = cum_j/N. Clearing
# denominators: T·N³ = Σ_{i,j} l_j·Q_ij²/n_i with Q = N·cum_ij −
# n_i·cum_j exact integers, and the rational /n_i handled by the
# stats_icc integer-division split — l·Q² = a·n_i + r (wide-int
# DECIMAL/HUGEINT div), Σa exact wide, only Σ(r/n_i) ∈ [0,1)-terms
# crosses as floats at dsum scale 12. The raw statistic is emitted
# with its exact building blocks (no asymptotic standardization —
# the null moments for the tie-adjusted k-sample case aren't a
# formula this repo can verify independently, and an unverifiable
# constant is exactly what the replay-test discipline exists to
# keep out).
#
# Scale: the AD grid's envelope — one cents aggregate, bounded-domain
# windows, a 1-row finish.


def _cvm_sql(idiv: str, w19: str, split: bool = False) -> str:
    # ENGINE-SIDE DIVISION SPLIT (r10, ADVICE item): Spark `div`
    # always returns BIGINT, so the direct `l·Q² div nᵢ` quotient —
    # which sums to T·N³ ≈ N³ across rows — wraps silently around
    # N ≈ 2e6 pooled rows while DuckDB's HUGEINT `//` stays int128.
    # The engine instead runs the trunc-division ladder
    #   Q = a·nᵢ + r            (|r| < nᵢ; Q is int64 — existing
    #                            envelope: N·max nᵢ < 2⁶³)
    #   Q² = a²nᵢ² + 2·a·r·nᵢ + r²
    #   r² = b·nᵢ + s           (s ∈ [0,nᵢ); needs nᵢ < 3.04e9)
    #   l·s = c·nᵢ + t          (t ∈ [0,nᵢ); needs l·nᵢ < 2⁶³)
    #   ⇒ floor(l·Q²/nᵢ) = l·a²·nᵢ + 2·l·a·r + l·b + c,  rem = t
    # so every BIGINT `div`/`*` operand is int64-bounded and the wide
    # products live in DECIMAL(38,0) with an exact DECIMAL(38,0) sum
    # (Σ = T·N³ < 1e38 through N ≈ 1e12). The oracle keeps the DIRECT
    # HUGEINT `l·Q² // nᵢ` form — parity cross-checks the derivations.
    from posting_lines_spark.queries.parity import dsum_expr

    lq2 = (
        f"CAST(l AS {w19}) * CAST(q AS {w19}) * CAST(q AS {w19})"
    )
    if split:
        split_sql = f"""
split0 AS (
  SELECT g, n_i, l,
         q {idiv} n_i AS a,
         q - (q {idiv} n_i) * n_i AS r
  FROM qs
),
split1 AS (
  SELECT g, n_i, l, a, r,
         (r * r) {idiv} n_i AS b,
         (r * r) - ((r * r) {idiv} n_i) * n_i AS s
  FROM split0
),
split AS (
  SELECT g, n_i,
         CAST(l AS {w19}) * CAST(a AS {w19}) * CAST(a AS {w19}) * n_i
           + 2 * CAST(l AS {w19}) * CAST(a AS {w19}) * r
           + CAST(l AS {w19}) * b
           + (l * s) {idiv} n_i AS a,
         (l * s) - ((l * s) {idiv} n_i) * n_i AS r
  FROM split1
),"""
    else:
        split_sql = f"""
split AS (
  SELECT g, n_i,
         ({lq2}) {idiv} n_i AS a,
         ({lq2}) - (({lq2}) {idiv} n_i) * n_i AS r
  FROM qs
),"""
    return f"""
WITH scored AS (
  SELECT event_type AS g, CAST(round(value * 100e0) AS BIGINT) AS v
  FROM events
),
samp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_i FROM scored GROUP BY g),
tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
        FROM samp),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS l FROM scored GROUP BY v),
pool AS (
  SELECT v, l,
         CAST(sum(l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM vals
),
cell AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY v, g),
grid AS (
  SELECT p.v, p.l, p.cum, s.g, s.n_i, coalesce(c.c, CAST(0 AS BIGINT)) AS c
  FROM pool p CROSS JOIN samp s
  LEFT JOIN cell c ON c.v = p.v AND c.g = s.g
),
qs AS (
  SELECT v, l, g, n_i,
         CAST((SELECT n FROM tot)
              * sum(c) OVER (PARTITION BY g ORDER BY v
                             ROWS UNBOUNDED PRECEDING)
              - n_i * cum AS BIGINT) AS q
  FROM grid
),
{split_sql}
agg AS (
  SELECT CAST(CAST(sum(a) AS STRING) AS DOUBLE) AS sum_a,
         {dsum_expr("CAST(r AS DOUBLE) / CAST(n_i AS DOUBLE)", 12)} AS sum_r
  FROM split
)
SELECT t.n, t.k,
       (a.sum_a + a.sum_r)
         / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
         AS cvm_t
FROM agg a CROSS JOIN tot t
"""


@register(
    "stats_cvm_ksamples",
    oracle=_cvm_sql("//", "HUGEINT"),
    description="k-sample Cramér-von Mises statistic (right-continuous "
    "EDFs at distinct pooled cents, stated convention): T·N³ kept in "
    "exact integers via the stats_icc division split — wide-int Σa "
    "plus [0,1)-remainder floats only — the uniform-weight L² "
    "companion that brackets stats_anderson_darling_k's tail-weighted "
    "view; the AD grid's scale envelope, no unverifiable asymptotic "
    "constants emitted",
)
def stats_cvm_ksamples(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cvm_sql("div", "DECIMAL(19,0)", split=True))


# --- Ansari-Bradley scale test (wave 19) ---
# The rank test for SCALE differences (Mann-Whitney detects location;
# AB detects dispersion): pooled values get the symmetric scores
# a(i) = min(i, N+1−i), ties receive the block mid-score, and the
# statistic is W = Σ scores of sample 1. No table of magic constants:
# under H0, W is the sum of n1 draws WITHOUT replacement from the
# finite score population, so E[W] = n1·μ_s and
# Var[W] = n1·n2·σ_s²/(N−1) with μ_s, σ_s² the exact population
# moments of the N mid-scores — plain finite-population sampling
# theory, fully replayable (the CvM discipline: nothing emitted that
# an independent Python replay can't re-derive).
#
# Exact integer plumbing: per tied block at positions [a, b] the raw
# score sum S = Σ min(i, N+1−i) has the closed form
#   S = Σ_{i=a}^{min(b,h)} i + Σ_{i=max(a,h+1)}^{b} (N+1−i),  h = ⌊(N+1)/2⌋
# via triangular numbers in wide integers — computed with the r11
# even-factor-first split (x(x+1) is always even, so halve the even
# factor BEFORE widening: every `div` operand stays int64, because
# Spark's IntegralDivide returns BIGINT whatever the input type and
# the naive (x·(x+1)) div 2 would wrap past N ≈ 4.3e9 pooled rows).
# The rationals W = Σ c1·S/t and Q = Σ S²/t ride the r10 trunc-
# division ladder (S = s_q·t + s_r with the quotient ≤ (N+1)/2 always
# int64; the s_q·t remainder product computed wide for the same
# reason): floor parts are exact wide sums, only [0,1) remainders
# cross as floats at dsum scale 12. Documented bounds: s_r² < t²
# needs t < 3.04e9 tied rows per value; c1·s_r < c1·t < 2⁶³.
#
# Scale: Mann-Whitney's envelope — one cents aggregate, one bounded-
# domain cumulative window, a 1-row finish.


def _tri_expr(x: str, idiv: str, w19: str, naive: bool = False) -> str:
    """Triangular number T(x) = x(x+1)/2 as exact SQL.

    The default form never integral-divides the wide product: Spark
    `div` is IntegralDivide and always returns BIGINT, so the naive
    `(x·(x+1)) div 2` wraps once T(x) leaves int64 — past x ≈ 4.3e9 —
    while DuckDB's HUGEINT `//` stays int128 (r11 ADVICE item).
    x(x+1) is always even, so halve the even factor FIRST (each div
    operand stays int64 since x < 2⁶³) and widen only the product;
    trunc-vs-floor is moot because the halved factor is even. The
    naive form is kept for the overflow regression test only.
    """
    if naive:
        return f"(CAST({x} AS {w19}) * ({x} + 1) {idiv} 2)"
    return (
        f"(CASE WHEN ({x}) % 2 = 0"
        f" THEN CAST(({x}) {idiv} 2 AS {w19}) * (({x}) + 1)"
        f" ELSE CAST(({x}) AS {w19}) * ((({x}) + 1) {idiv} 2) END)"
    )


def _ab_sql(idiv: str, w19: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    T = lambda x: _tri_expr(x, idiv, w19)  # noqa: E731
    return f"""
WITH scored AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS v,
         CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS g1
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
),
pts AS (
  SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
         CAST(count(*) - sum(g1) AS BIGINT) AS c2
  FROM scored GROUP BY v
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 + c2) AS BIGINT) AS n,
         CAST((sum(c1 + c2) + 1) {idiv} 2 AS BIGINT) AS h
  FROM pts
),
run AS (
  SELECT v, c1, c2, c1 + c2 AS t,
         CAST(sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM pts
),
blocks AS (
  SELECT c1, c2, t, cum - t + 1 AS a, cum AS b, n, h, n1, n2
  FROM run CROSS JOIN tot
),
bscore AS (
  SELECT c1, t, n, n1, n2,
         CASE WHEN least(b, h) >= a
              THEN {T("least(b, h)")} - {T("(a - 1)")}
              ELSE CAST(0 AS {w19}) END
         + CASE WHEN b >= greatest(a, h + 1)
                THEN CAST(n + 1 AS {w19}) * (b - greatest(a, h + 1) + 1)
                     - ({T("b")} - {T("(greatest(a, h + 1) - 1)")})
                ELSE CAST(0 AS {w19}) END AS s
  FROM blocks
),
ladder AS (
  -- s_q ≤ (N+1)/2 is always int64, but s_q·t tracks s itself, so the
  -- remainder's product must be computed WIDE (BIGINT s_q·t wraps
  -- exactly when s > 2⁶³ — same envelope the T(x) split just fixed).
  SELECT c1, t, n, n1, n2, s,
         CAST(s {idiv} t AS BIGINT) AS s_q,
         CAST(s - CAST(s {idiv} t AS {w19}) * t AS BIGINT) AS s_r
  FROM bscore
),
terms AS (
  SELECT n, n1, n2, t,
         -- W floor/frac: c1·S/t = c1·s_q + (c1·s_r div t) + (c1·s_r mod t)/t
         CAST(c1 AS {w19}) * s_q + (c1 * s_r) {idiv} t AS w_fl,
         (c1 * s_r) - ((c1 * s_r) {idiv} t) * t AS w_rm,
         -- Q floor/frac: S²/t = s_q²·t + 2·s_q·s_r + (s_r² div t) + (s_r² mod t)/t
         CAST(s_q AS {w19}) * CAST(s_q AS {w19}) * t
           + 2 * CAST(s_q AS {w19}) * s_r
           + (s_r * s_r) {idiv} t AS q_fl,
         (s_r * s_r) - ((s_r * s_r) {idiv} t) * t AS q_rm,
         s AS s_all
  FROM ladder
),
agg AS (
  SELECT max(n) AS n, max(n1) AS n1, max(n2) AS n2,
         CAST(CAST(sum(w_fl) AS STRING) AS DOUBLE)
           + {dsum_expr("CAST(w_rm AS DOUBLE) / CAST(t AS DOUBLE)", 12)}
           AS w_ab,
         CAST(CAST(sum(q_fl) AS STRING) AS DOUBLE)
           + {dsum_expr("CAST(q_rm AS DOUBLE) / CAST(t AS DOUBLE)", 12)}
           AS q,
         CAST(CAST(sum(s_all) AS STRING) AS DOUBLE) AS s_tot
  FROM (SELECT t, n, n1, n2, w_fl, w_rm, q_fl, q_rm, s_all FROM terms) z
),
fin AS (
  SELECT n, n1, n2, w_ab,
         CAST(n1 AS DOUBLE) * s_tot / CAST(n AS DOUBLE) AS e_w,
         CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           * (CAST(n AS DOUBLE) * q - s_tot * s_tot)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) - 1.0e0)) AS var_w
  FROM agg
)
SELECT n1, n2, w_ab, e_w, var_w,
       (w_ab - e_w) / nullif(sqrt(var_w), 0e0) AS z_stat
FROM fin
"""


@register(
    "stats_ansari_bradley",
    oracle=_ab_sql("//", "HUGEINT"),
    description=f"Ansari-Bradley scale test ({_MW_A} vs {_MW_B} cents): "
    "symmetric rank scores min(i, N+1−i) with exact tie mid-scores via "
    "closed-form triangular block sums, rationals on the r10 trunc-"
    "division ladder (wide floor sums + [0,1) remainder floats), and "
    "null moments from finite-population sampling theory (E[W]=n1·μ_s, "
    "Var=n1·n2·σ_s²/(N−1)) — no unverifiable constants; the dispersion "
    "sibling of stats_mann_whitney on the same envelope",
)
def stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ab_sql("div", "DECIMAL(19,0)"))


# --- Goodman-Kruskal gamma (wave 19) ---
# Ordinal-ordinal association over a BOUNDED grid: hour-of-day (0–23)
# vs fixed-width cents decile (0–9). Concordant/discordant pair counts
# come from the ≤240-cell grid's self-join — never a row-level pair
# join: C = Σ n_xy·n_x'y' over (x'>x, y'>y), D over (x'>x, y'<y),
# γ = (C−D)/(C+D). Products ride wide integers — DECIMAL(38,0) on the
# engine so the envelope matches the oracle's HUGEINT (an r11 ADVICE
# fix: a DECIMAL(19,0) outer cast capped C/D at ~1e19, barely above
# int64, diverging from the oracle past ~4.5e9 rows) — and C and D
# are emitted through the exact STRING→DOUBLE route (they exceed
# int64 past ~4e9 rows; the double carries their exact leading
# digits either way).
#
# Scale: one grid aggregate with map-side combine (grid is constant-
# size), a 240×240 broadcast self-join, a 1-row finish.


def _gamma_sql(w19: str, grid: str | None = None) -> str:
    # `grid` overrides the events-derived grid CTE so the overflow
    # regression test can inject cell counts no feasible local table
    # could produce (C/D wrap is rowcount-driven, ≈4.5e9 rows).
    g_body = (
        grid
        or "SELECT x, y, CAST(count(*) AS BIGINT) AS n "
        "FROM scored GROUP BY x, y"
    )
    scored = (
        ""
        if grid
        else """scored AS (
  SELECT CAST(({us} % 86400000000) {idiv} 3600000000 AS BIGINT)
           AS x,
         least(CAST(round(value * 100e0) AS BIGINT) {idiv} 2000,
               CAST(9 AS BIGINT)) AS y
  FROM events
),
"""
    )
    return f"""
WITH {scored}g AS ({g_body}),
pairs AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN b.y > a.y
                           THEN CAST(a.n AS {w19}) * b.n END), 0)
         AS {w19}) AS c_raw,
    CAST(coalesce(sum(CASE WHEN b.y < a.y
                           THEN CAST(a.n AS {w19}) * b.n END), 0)
         AS {w19}) AS d_raw
  FROM g a JOIN g b ON b.x > a.x
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM g)
SELECT t.n_rows,
       CAST(CAST(p.c_raw AS STRING) AS DOUBLE) AS c_pairs,
       CAST(CAST(p.d_raw AS STRING) AS DOUBLE) AS d_pairs,
       (CAST(CAST(p.c_raw AS STRING) AS DOUBLE)
          - CAST(CAST(p.d_raw AS STRING) AS DOUBLE))
         / nullif(CAST(CAST(p.c_raw AS STRING) AS DOUBLE)
                  + CAST(CAST(p.d_raw AS STRING) AS DOUBLE), 0e0) AS gamma
FROM pairs p CROSS JOIN tot t
"""


@register(
    "stats_goodman_kruskal_gamma",
    oracle=_gamma_sql("HUGEINT")
    .replace("{idiv}", "//")
    .replace("{us}", "epoch_us(ts)"),
    description="Goodman-Kruskal gamma between hour-of-day and cents "
    "decile: concordant/discordant pair counts from the ≤240-cell "
    "grid's self-join (exact wide-integer products, never a row-level "
    "pair join), γ = (C−D)/(C+D) — the ordinal association measure "
    "Kendall's τ-b approximates on grids; one constant-size grid "
    "aggregate + a 1-row finish",
)
def stats_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _gamma_sql("DECIMAL(38,0)")
        .replace("{idiv}", "div")
        .replace("{us}", "unix_micros(ts)")
    )


# --- Cliff's delta (wave 19) ---
# The nonparametric effect size stats_effect_sizes lacks: the
# dominance measure δ = P(X>Y) − P(X<Y) for purchase vs click cents —
# robust where Cohen's d assumes normality. Exact integers end-to-end:
# per-cents-value group counts + one bounded-domain cumulative window
# give #(X>Y) = Σ_v c1_v·cum2_<v and #(X<Y) = Σ_v c1_v·(n2 − cum2_≤v)
# as wide-integer sums; δ and the tie mass close in one double chain.
# (2·#(X>Y) + ties)/2 is exactly Mann-Whitney U₁ — the documented
# cross-check the replay test asserts.
#
# Scale: Mann-Whitney's envelope — one cents aggregate, one bounded
# cumulative window, a 1-row finish.


def _cliffs_sql(w19: str) -> str:
    return f"""
WITH scored AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS v,
         CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS g1
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
),
pts AS (
  SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
         CAST(count(*) - sum(g1) AS BIGINT) AS c2
  FROM scored GROUP BY v
),
run AS (
  SELECT v, c1, c2,
         CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum2
  FROM pts
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM pts),
agg AS (
  SELECT max(t.n1) AS n1, max(t.n2) AS n2,
         CAST(CAST(sum(CAST(r.c1 AS {w19}) * (r.cum2 - r.c2)) AS STRING)
              AS DOUBLE) AS n_gt,
         CAST(CAST(sum(CAST(r.c1 AS {w19}) * (t.n2 - r.cum2)) AS STRING)
              AS DOUBLE) AS n_lt,
         CAST(CAST(sum(CAST(r.c1 AS {w19}) * r.c2) AS STRING) AS DOUBLE)
           AS n_tie
  FROM run r CROSS JOIN tot t
)
SELECT n1, n2, n_gt, n_lt, n_tie,
       (n_gt - n_lt) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS delta
FROM agg
"""


@register(
    "stats_cliffs_delta",
    oracle=_cliffs_sql("HUGEINT"),
    description=f"Cliff's delta dominance effect size ({_MW_A} vs "
    f"{_MW_B} cents): exact wide-integer #(X>Y)/#(X<Y)/tie counts from "
    "per-value group counts + one bounded cumulative window, "
    "δ = (gt−lt)/(n1·n2) — the nonparametric companion to "
    "stats_effect_sizes' Cohen's d, and (2·gt + ties)/2 ≡ Mann-Whitney "
    "U₁ by construction (the replay test asserts it); one cents "
    "aggregate + a 1-row finish",
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cliffs_sql("DECIMAL(19,0)"))


# --- Somers' D (wave 20) ---
# The ASYMMETRIC ordinal association gamma deliberately ignores:
# gamma drops ALL tied pairs from its denominator, Somers' D keeps the
# pairs tied only on the independent variable out (D_y|x) or only on
# the dependent variable out (D_x|y) — the measure credit-risk uses
# (D_y|x of score vs outcome ≡ the Gini/AUC identity), over the same
# bounded hour-of-day × cents-decile grid as the gamma query. C and D
# come from the ≤240-cell grid self-join; the tied-pair masses are
# marginal triangular sums Σ T(n_x−1), Σ T(n_y−1) through the r11
# even-factor-first _tri_expr (every div operand int64, products wide)
# so the engine envelope matches the HUGEINT oracle everywhere.
#
# Scale: one constant-size grid aggregate with map-side combine, two
# ≤24/≤10-row marginal aggregates, a 1-row finish.


def _somers_sql(idiv: str, w19: str, us: str) -> str:
    T = lambda x: _tri_expr(x, idiv, w19)  # noqa: E731
    return f"""
WITH scored AS (
  SELECT CAST(({us} % 86400000000) {idiv} 3600000000 AS BIGINT) AS x,
         least(CAST(round(value * 100e0) AS BIGINT) {idiv} 2000,
               CAST(9 AS BIGINT)) AS y
  FROM events
),
g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM scored GROUP BY x, y),
pairs AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN b.y > a.y
                           THEN CAST(a.n AS {w19}) * b.n END), 0)
         AS {w19}) AS c_raw,
    CAST(coalesce(sum(CASE WHEN b.y < a.y
                           THEN CAST(a.n AS {w19}) * b.n END), 0)
         AS {w19}) AS d_raw
  FROM g a JOIN g b ON b.x > a.x
),
margx AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM g GROUP BY x),
margy AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny FROM g GROUP BY y),
tots AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM g),
tx AS (SELECT CAST(sum({T("(nx - 1)")}) AS {w19}) AS tied_x FROM margx),
ty AS (SELECT CAST(sum({T("(ny - 1)")}) AS {w19}) AS tied_y FROM margy),
fin AS (
  SELECT t.n_rows,
         CAST(CAST(p.c_raw AS STRING) AS DOUBLE) AS c_pairs,
         CAST(CAST(p.d_raw AS STRING) AS DOUBLE) AS d_pairs,
         CAST(CAST({T("(t.n_rows - 1)")} - x.tied_x AS STRING) AS DOUBLE)
           AS untied_x,
         CAST(CAST({T("(t.n_rows - 1)")} - y.tied_y AS STRING) AS DOUBLE)
           AS untied_y
  FROM pairs p CROSS JOIN tots t CROSS JOIN tx x CROSS JOIN ty y
)
SELECT n_rows, c_pairs, d_pairs,
       (c_pairs - d_pairs) / nullif(untied_x, 0e0) AS d_yx,
       (c_pairs - d_pairs) / nullif(untied_y, 0e0) AS d_xy
FROM fin
"""


@register(
    "stats_somers_d",
    oracle=_somers_sql("//", "HUGEINT", "epoch_us(ts)"),
    description="Somers' D (both directions) between hour-of-day and "
    "cents decile over the gamma query's ≤240-cell grid: C/D from the "
    "grid self-join in wide integers, tied-pair masses as marginal "
    "triangular sums through the r11 even-factor-first split (engine "
    "envelope = HUGEINT oracle), D_y|x = (C−D)/(pairs untied on x) — "
    "the asymmetric ordinal measure (credit-scoring Gini identity) "
    "gamma and tau-b bracket; one constant-size grid aggregate + "
    "marginal reductions + a 1-row finish",
)
def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_somers_sql("div", "DECIMAL(38,0)", "unix_micros(ts)"))


# --- Jonckheere-Terpstra ordered-alternatives trend test (wave 20) ---
# Kruskal-Wallis asks "do the k groups differ"; JT asks the sharper
# ordered question "do values INCREASE along a stated group order"
# (here: event types in lexical order — a fixed, engine-stable order).
# JT = Σ_{i<j} U_ij sums pairwise Mann-Whitney counts (ties at ½), so
# 2·JT is an exact integer: per (group, cents) counts on the bounded
# cents domain, densified to the pooled distinct-value grid (k×|D|
# rows), give every U_ij term from TWO window passes — a per-group
# cumulative over v (values strictly below) and a per-value prefix
# over the group order (groups strictly before) — never a pair join:
#   2·JT = Σ_{j,v} c_j(v) · (2·Σ_{i<j} cumlt_i(v) + Σ_{i<j} c_i(v)).
# Null moments under H0 with ties (permutation-exact — the replay test
# VERIFIES the formula by exhaustive multiset permutation on a small
# case, not by trusting a table):
#   E[JT]  = (N² − Σnᵢ²)/4
#   72·V₁  = N(N−1)(2N+5) − Σnᵢ(nᵢ−1)(2nᵢ+5) − Σtᵥ(tᵥ−1)(2tᵥ+5)
#   V₂     = [Σnᵢ(nᵢ−1)(nᵢ−2)]·[Σtᵥ(tᵥ−1)(tᵥ−2)] / (36·N(N−1)(N−2))
#   V₃     = [Σnᵢ(nᵢ−1)]·[Σtᵥ(tᵥ−1)] / (8·N(N−1))
#   Var    = V₁ + V₂ + V₃,  z = (JT − E)/√Var.
# Every cubic-in-count product rides wide integers with int64-safe
# factors ((CAST(n AS w19)·(n−1))·(2n+5) — each BIGINT factor < 2⁶³
# for n < 4.6e18); wide sums emit via exact STRING→DOUBLE.
#
# Scale: one (type, cents) aggregate with map-side combine; the dense
# grid is k×|D| (types × cents domain — bounded, never row-shaped);
# two window passes over it; a 1-row finish.


def _jt_sql(w19: str) -> str:
    def cubic(n: str) -> str:
        return f"(CAST({n} AS {w19}) * ({n} - 1)) * (2 * {n} + 5)"

    def fall3(n: str) -> str:
        return f"(CAST({n} AS {w19}) * ({n} - 1)) * ({n} - 2)"

    def fall2(n: str) -> str:
        return f"CAST({n} AS {w19}) * ({n} - 1)"

    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    return f"""
WITH pts AS (
  SELECT event_type AS g,
         CAST(round(value * 100e0) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(round(value * 100e0) AS BIGINT)
),
gs AS (
  SELECT g, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS gi
  FROM (SELECT DISTINCT g FROM pts) z
),
vs AS (SELECT DISTINCT v FROM pts),
dense AS (
  SELECT gs.g, gs.gi, vs.v, CAST(coalesce(p.c, 0) AS BIGINT) AS c
  FROM gs CROSS JOIN vs
  LEFT JOIN pts p ON p.g = gs.g AND p.v = vs.v
),
cums AS (
  SELECT g, gi, v, c,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) - c AS BIGINT)
           AS cumlt
  FROM dense
),
pref AS (
  SELECT g, gi, v, c,
         CAST(coalesce(sum(cumlt) OVER (PARTITION BY v ORDER BY gi
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS s_below,
         CAST(coalesce(sum(c) OVER (PARTITION BY v ORDER BY gi
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS t_before
  FROM cums
),
jt2 AS (
  SELECT CAST(sum(CAST(c AS {w19}) * (2 * s_below + t_before))
              AS {w19}) AS jt_twice
  FROM pref
),
groups AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(CAST(n AS {w19}) * n) AS {w19}) AS sum_n2,
         CAST(sum({cubic("n")}) AS {w19}) AS sn1,
         CAST(sum({fall3("n")}) AS {w19}) AS sn2,
         CAST(sum({fall2("n")}) AS {w19}) AS sn3
  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM pts GROUP BY g) z
),
tiesb AS (
  SELECT CAST(sum({cubic("t")}) AS {w19}) AS st1,
         CAST(sum({fall3("t")}) AS {w19}) AS st2,
         CAST(sum({fall2("t")}) AS {w19}) AS st3
  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM pts GROUP BY v) z
),
fin AS (
  SELECT g.n, g.k,
         {s2d("j.jt_twice")} / 2e0 AS jt,
         ({s2d(f"CAST(g.n AS {w19}) * g.n - g.sum_n2")}) / 4e0 AS e_jt,
         (({s2d(f'{cubic("g.n")} - g.sn1 - t.st1')}) / 72e0
          + ({s2d("g.sn2")} * {s2d("t.st2")})
            / (36e0 * (CAST(g.n AS DOUBLE) * (g.n - 1e0) * (g.n - 2e0)))
          + ({s2d("g.sn3")} * {s2d("t.st3")})
            / (8e0 * (CAST(g.n AS DOUBLE) * (g.n - 1e0)))) AS var_jt
  FROM jt2 j CROSS JOIN groups g CROSS JOIN tiesb t
)
SELECT n, k, jt, e_jt, var_jt,
       (jt - e_jt) / nullif(sqrt(var_jt), 0e0) AS z_stat
FROM fin
"""


@register(
    "stats_jonckheere_terpstra",
    oracle=_jt_sql("HUGEINT"),
    description="Jonckheere-Terpstra ordered-alternatives trend test "
    "across event types (lexical group order): 2·JT exact via dense "
    "(k×cents-domain) grid + two window passes (per-group value "
    "cumulative, per-value group-order prefix) — never a pair join; "
    "tie-corrected null moments from permutation theory (the replay "
    "test verifies the variance formula by exhaustive multiset "
    "permutation), cubic count products on int64-safe wide-integer "
    "factors; the ordered sharpening of stats_kruskal_wallis",
)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_jt_sql("DECIMAL(38,0)"))


# --- HBOS: histogram-based outlier score (wave 20) ---
# The anomaly family's MULTIVARIATE member: anomaly_zscore/mad/esd
# score one series; HBOS (Goldstein & Dengel 2012) scores each event
# by how RARE its feature combination is under independent per-feature
# histograms: score = Σ_f −ln(p_f) with p_f the event's bin mass in
# feature f — here hour-of-day (24 bins) and cents decile (10 bins,
# the gamma grid's axes). ln runs on INTEGER bin counts through the
# deterministic integer-ln kernel (score = 2·ln N − ln c_hour − ln
# c_decile), so the whole chain is bit-identical across engines with
# no per-row transcendentals — the ln stack is evaluated on the 24-
# and 10-row bin tables, never per event. Top 20 under a total order
# (score ties share a bin pair; event_id breaks them).
#
# Scale: two bounded-bin aggregates (map-side combine), two broadcast
# joins of events against ≤24/≤10-row bin tables, a TakeOrdered top-k
# — linear scan work, constant state; the textbook reason HBOS is the
# anomaly detector that survives 100 TB while kNN/LOF variants don't.


def _hbos_sql(idiv: str, us: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    hl, h_last = dln_int_cte_layers([("ch", "hb")], "hb", "hbl")
    dl, d_last = dln_int_cte_layers([("cd", "db")], "db", "dbl")
    nl, n_last = dln_int_cte_layers([("n", "nb")], "tot", "ntl")
    return f"""
WITH feat AS (
  SELECT event_id,
         CAST(({us} % 86400000000) {idiv} 3600000000 AS BIGINT) AS hh,
         least(CAST(round(value * 100e0) AS BIGINT) {idiv} 2000,
               CAST(9 AS BIGINT)) AS dd
  FROM events
),
hb AS (SELECT hh, CAST(count(*) AS BIGINT) AS ch FROM feat GROUP BY hh),
db AS (SELECT dd, CAST(count(*) AS BIGINT) AS cd FROM feat GROUP BY dd),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
{hl},
{dl},
{nl}
SELECT f.event_id, f.hh AS hour_bin, f.dd AS decile_bin,
       h.ch AS n_hour_bin, d.cd AS n_decile_bin,
       (2e0 * t.nb_ln) - (h.hb_ln + d.db_ln) AS hbos_score
FROM feat f
JOIN {h_last} h ON h.hh = f.hh
JOIN {d_last} d ON d.dd = f.dd
CROSS JOIN {n_last} t
ORDER BY hbos_score DESC, event_id
LIMIT 20
"""


@register(
    "anomaly_hbos",
    oracle=_hbos_sql("//", "epoch_us(ts)"),
    description="HBOS multivariate outlier score (Goldstein & Dengel "
    "2012) over hour-of-day × cents-decile histograms: score = "
    "2·ln N − ln c_hour − ln c_decile via the deterministic integer-ln "
    "kernel evaluated on the ≤24/≤10-row BIN tables (never per event), "
    "two broadcast joins, top-20 total order — the density-based "
    "anomaly detector that stays linear-scan at 100 TB where kNN/LOF "
    "can't",
)
def anomaly_hbos(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hbos_sql("div", "unix_micros(ts)"))


# --- Quade test (wave 21) ---
# Friedman (stats_friedman_test) treats every block as equally
# informative; Quade (1979) weights each block by the RANGE of its
# observations — blocks where treatments actually differ carry more
# evidence — which makes it the more powerful choice at small k.
# Blocks are days, treatments the k event types, the observation the
# daily cents TOTAL (an exact integer, so tie structure is engine-
# stable by construction); only COMPLETE blocks (all k types present)
# enter, the standard requirement. Within-block midranks R_ij and
# block-range midranks Q_i come from rank windows over exact values
# (midrank = rank + (ties−1)/2 — halves exact in doubles); then
#   S_ij = Q_i·(R_ij − (k+1)/2),  S_j = Σ_i S_ij,
#   A = Σ S_ij²,  B = (Σ_j S_j²)/n,  F = (n−1)·B/(A−B)
# with df (k−1, (n−1)(k−1)). All cross-block sums decimal-routed
# (|S_ij| ≤ n·k/2 keeps scale-6 routing far inside the parity
# magnitude rule).
#
# Scale: one (day, type) aggregate, rank windows PARTITIONed by day
# (k rows each) and one n-bounded range-rank window (n ≤ calendar
# days), decimal-routed reductions, a 1-row finish.


def _quade_sql(us: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day, event_type,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY {day}, event_type
),
kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
complete AS (
  SELECT d.day, d.event_type, d.x
  FROM daily d
  JOIN (SELECT day FROM daily GROUP BY day
        HAVING count(*) = (SELECT max(k) FROM kk)) c ON c.day = d.day
),
ranked AS (
  SELECT day, event_type, x,
         CAST(rank() OVER (PARTITION BY day ORDER BY x) AS DOUBLE)
           + (CAST(count(*) OVER (PARTITION BY day, x) AS DOUBLE) - 1e0)
             / 2e0 AS r_ij
  FROM complete
),
ranges AS (
  SELECT day, CAST(max(x) - min(x) AS BIGINT) AS rng
  FROM complete GROUP BY day
),
qweights AS (
  SELECT day,
         CAST(rank() OVER (ORDER BY rng) AS DOUBLE)
           + (CAST(count(*) OVER (PARTITION BY rng) AS DOUBLE) - 1e0)
             / 2e0 AS q_i
  FROM ranges
),
sij AS (
  SELECT r.event_type,
         q.q_i * (r.r_ij
                  - (CAST((SELECT max(k) FROM kk) AS DOUBLE) + 1e0) / 2e0)
           AS s_ij
  FROM ranked r JOIN qweights q ON q.day = r.day
),
perj AS (
  SELECT event_type, {dsum_expr("s_ij", 6)} AS s_j,
         {dsum_expr("s_ij * s_ij", 6)} AS a_j
  FROM sij GROUP BY event_type
),
agg AS (
  SELECT {dsum_expr("a_j", 6)} AS a_stat,
         {dsum_expr("s_j * s_j", 6)} AS b_num,
         CAST(count(*) AS BIGINT) AS k
  FROM perj
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qweights)
SELECT nn.n, agg.k, agg.a_stat,
       agg.b_num / CAST(nn.n AS DOUBLE) AS b_stat,
       ((CAST(nn.n AS DOUBLE) - 1e0) * (agg.b_num / CAST(nn.n AS DOUBLE)))
         / nullif(agg.a_stat - agg.b_num / CAST(nn.n AS DOUBLE), 0e0)
         AS f_stat,
       agg.k - 1 AS df1,
       (nn.n - 1) * (agg.k - 1) AS df2
FROM agg CROSS JOIN nn
"""


@register(
    "stats_quade_test",
    oracle=_quade_sql("epoch_us(ts)"),
    description="Quade test (range-weighted Friedman) over day blocks "
    "× event-type treatments on daily cents totals: within-block and "
    "block-range midranks from rank windows over EXACT integers (tie "
    "structure engine-stable), S_ij = Q_i·(R_ij − (k+1)/2), "
    "F = (n−1)B/(A−B) with decimal-routed reductions — the powerful "
    "small-k sibling of stats_friedman_test; complete blocks only, "
    "calendar-bounded windows, a 1-row finish",
)
def stats_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_quade_sql("unix_micros(ts)"))


# --- residual diagnostics: Durbin-Watson + Breusch-Pagan (wave 21) ---
# stats_regression fits the line but never asks whether its residuals
# are USABLE: serially-correlated errors (Durbin-Watson) invalidate
# the OLS standard errors in one way, heteroscedastic errors
# (Breusch-Pagan) in another — the two post-fit gates every regression
# pipeline runs. Both work per event type on the daily cents-total
# series regressed on the day index: slope/intercept come from EXACT
# wide-integer cross sums (x and t are integers; the one division per
# coefficient happens in doubles on exactly-emitted operands), so the
# residuals e_t = x_t − a − b·t are the same doubles on both engines.
#
# CROSS-ENGINE DISCIPLINE (learned in THIS wave, the parity.py per-row
# rounding bound in action): a first draft decimal-routed Σe², Σt·e²,
# Σ(e²)² — but e⁴ reaches ~1e20 already at sf0.01, so the expected
# double→DECIMAL coin flips n·v·2.2e-16·10^scale ≈ 1e5 ≫ 1, and the
# sf0.01 sweep failed exactly there (and Σe² itself would fail by
# sf10). The fix removes EVERY double→decimal cast: residuals are
# quantized to integer cents ONCE — eq = round(e), half away from
# zero, engine-identical per the lsum_expr note — and every sum
# (Σ(Δeq)², Σeq², Σt, Σt², Σt·eq², Σ(eq²)²) is then an exact wide
# integer emitted via STRING→DOUBLE into one shared double chain.
# The emitted statistic is BY DEFINITION the DW/BP of the quantized
# series (1-cent resolution; relative perturbation ~1/|e|, negligible
# at any data scale that makes these tests meaningful). Envelope:
# Σ(eq²)² needs n·eq⁴ < 1e38 ⇒ |e| ≲ 7e8 cents daily deviation at
# n = 366 — an sf≈50-per-type bound, documented.
#
# Scale: one (type, day) aggregate, one k-group exact-sum reduce, a
# calendar-bounded lag window, k-row emits.


def _resid_ctes(us: str, w19: str) -> str:
    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    return f"""
daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, {day}
),
base AS (
  SELECT event_type, x,
         day - min(day) OVER (PARTITION BY event_type) AS t
  FROM daily
),
csums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(t AS {w19}) * t) AS {w19}) AS stt,
         CAST(sum(CAST(t AS {w19}) * x) AS {w19}) AS stx
  FROM base GROUP BY event_type
),
coefs AS (
  SELECT event_type, n,
         (CAST(n AS DOUBLE) * CAST(CAST(stx AS STRING) AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / nullif(CAST(n AS DOUBLE) * CAST(CAST(stt AS STRING) AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0e0) AS b
  FROM csums
),
resid AS (
  SELECT base.event_type, base.t,
         CAST(round(CAST(base.x AS DOUBLE)
              - ((CAST(c2.sx AS DOUBLE)
                  - c.b * CAST(c2.st AS DOUBLE)) / CAST(c2.n AS DOUBLE))
              - c.b * CAST(base.t AS DOUBLE)) AS BIGINT) AS eq
  FROM base
  JOIN coefs c ON c.event_type = base.event_type
  JOIN csums c2 ON c2.event_type = base.event_type
)"""


def _dw_sql(us: str, w19: str) -> str:
    s2d = lambda x: f"CAST(CAST({x} AS STRING) AS DOUBLE)"  # noqa: E731
    return f"""
WITH {_resid_ctes(us, w19)},
lagged AS (
  SELECT event_type, eq,
         lag(eq) OVER (PARTITION BY event_type ORDER BY t) AS eq_prev
  FROM resid
),
sums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN eq_prev IS NOT NULL
              THEN CAST(eq - eq_prev AS {w19}) * (eq - eq_prev) END), 0)
              AS {w19}) AS num,
         CAST(sum(CAST(eq AS {w19}) * eq) AS {w19}) AS den
  FROM lagged GROUP BY event_type
)
SELECT event_type, n,
       {s2d("num")} / nullif({s2d("den")}, 0e0) AS dw_stat
FROM sums
"""


def _bp_sql(us: str, w19: str) -> str:
    s2d = lambda x: f"CAST(CAST({x} AS STRING) AS DOUBLE)"  # noqa: E731
    g = f"(CAST(eq AS {w19}) * eq)"
    return f"""
WITH {_resid_ctes(us, w19)},
gsums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(CAST(t AS {w19}) * t) AS {w19}) AS stt,
         CAST(sum({g}) AS {w19}) AS sg,
         CAST(sum({g} * t) AS {w19}) AS stg,
         CAST(sum({g} * {g}) AS {w19}) AS sgg
  FROM resid GROUP BY event_type
),
emitted AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd, CAST(st AS DOUBLE) AS std,
         {s2d("stt")} AS sttd, {s2d("sg")} AS sgd,
         {s2d("stg")} AS stgd, {s2d("sgg")} AS sggd
  FROM gsums
)
SELECT event_type, n,
       ((nd * stgd - std * sgd) * (nd * stgd - std * sgd))
         / nullif((nd * sttd - std * std) * (nd * sggd - sgd * sgd), 0e0)
         AS r2_aux,
       nd * ((nd * stgd - std * sgd) * (nd * stgd - std * sgd))
         / nullif((nd * sttd - std * std) * (nd * sggd - sgd * sgd), 0e0)
         AS lm_stat
FROM emitted
"""


@register(
    "stats_durbin_watson",
    oracle=_dw_sql("epoch_us(ts)", "HUGEINT"),
    description="Durbin-Watson serial-correlation test on the daily "
    "cents-vs-day-index OLS residuals per event type, quantized to "
    "integer cents so every sum is an EXACT wide integer (no "
    "double→decimal cast anywhere — the parity coin-flip class is "
    "structurally absent): DW = Σ(Δeq)²/Σeq² via one lag window in "
    "observed-day order; the post-fit gate stats_regression's "
    "standard errors assume",
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dw_sql("unix_micros(ts)", "DECIMAL(38,0)"))


@register(
    "stats_breusch_pagan",
    oracle=_bp_sql("epoch_us(ts)", "HUGEINT"),
    description="Breusch-Pagan heteroscedasticity LM = n·R²(eq² on t) "
    "on the same cent-quantized per-type daily OLS residuals as "
    "stats_durbin_watson: every auxiliary sum an exact wide integer "
    "(Σ(eq²)² needs n·eq⁴ < 1e38 — documented ~sf50 envelope), one "
    "shared closed-form double chain; the variance-stability gate of "
    "the regression family",
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_bp_sql("unix_micros(ts)", "DECIMAL(38,0)"))


# --- DAU / WAU / MAU engagement rollup (wave 24) ---
# The product-analytics staple: per calendar day, distinct active
# users over the trailing 1-, 7-, and 30-day windows plus the
# DAU/MAU stickiness ratio. Sliding COUNT(DISTINCT) isn't a window
# Spark (or any engine) does cheaply, and the classic distributed
# rewrite is used here: dedup to user-days once, then each user-day
# CONTRIBUTES ITSELF to the k trailing report days via a bounded
# 7-/30-row literal offset fan-out and one distinct-count aggregate
# per grain — shuffle keyed on (report_day, user), never a range
# join, never per-day re-scans. Report days clip to the observed
# calendar (no phantom tail days past max(day)).
#
# Scale: one user-day dedup (map-side combinable), ≤37× bounded
# fan-out of the DEDUPED user-days (not raw events), three
# distinct-count aggregates, a ≤366-row join — the 100 TB shape for
# rolling engagement; at extreme user counts swap exact distinct for
# HLL sketches (sketch_hll_merge is the registered mergeable path).


def _active_users_sql(us: str) -> str:
    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    off7 = " UNION ALL ".join(f"SELECT {k} AS o" for k in range(7))
    off30 = " UNION ALL ".join(f"SELECT {k} AS o" for k in range(30))
    return f"""
WITH user_days AS (
  SELECT DISTINCT user_id, {day} AS day FROM events
),
cal AS (SELECT CAST(max(day) AS BIGINT) AS max_day FROM user_days),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM user_days GROUP BY day
),
wau AS (
  SELECT ud.day + o.o AS day,
         CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
  FROM user_days ud CROSS JOIN ({off7}) o
  GROUP BY ud.day + o.o
),
mau AS (
  SELECT ud.day + o.o AS day,
         CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
  FROM user_days ud CROSS JOIN ({off30}) o
  GROUP BY ud.day + o.o
)
SELECT d.day, d.dau, w.wau, m.mau,
       CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
FROM dau d
JOIN wau w ON w.day = d.day
JOIN mau m ON m.day = d.day
CROSS JOIN cal
WHERE d.day <= cal.max_day
"""


@register(
    "events_active_users",
    oracle=_active_users_sql("epoch_us(ts)"),
    description="DAU/WAU/MAU + stickiness per calendar day via the "
    "distributed rolling-distinct rewrite: dedup to user-days once, "
    "bounded 7-/30-row offset fan-out of the DEDUPED rows into their "
    "report days, one distinct-count aggregate per grain — never a "
    "range join or per-day rescan; swap exact distinct for HLL "
    "(sketch_hll_merge) at extreme user counts — the product-"
    "analytics engagement staple",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_active_users_sql("unix_micros(ts)"))


# The promised HLL swap-in, registered (VERDICT r11 item 6): the same
# rolling-distinct rewrite with approx_count_distinct (HLL++) computed
# ALONGSIDE the exact count at every grain — the drop-in is literally
# one aggregate-function substitution in the same SQL shape. Sketch
# estimates are engine-specific (Spark HLL++ vs DuckDB's HLL differ),
# so the parity contract is the sketch_hll_merge one: emit the exact
# values plus a boolean asserting the estimate lands within the
# documented bound; the oracle computes the exact counts and TRUE
# literals. The PINNED bound is 5σ (rsd=0.02 → 10%) so the TRUE
# contract is robust on any new SF/dataset (ADVICE r12: at 3σ ~0.3%
# of cells are EXPECTED outside the bound even when the sketch is
# correct — a pinned-TRUE oracle must sit beyond the expected tail);
# the tight 3σ ≈ 6% empirical check lives in tests/test_analytics.py
# against the fixed sf0.001/sf0.01 corpora where it is deterministic.
# At extreme user counts drop the exact aggregate and keep the HLL
# column — the state per (day, grain) becomes a constant 2^lgK bytes
# instead of the user set.

_AU_RSD = 0.02
_AU_BOUND = 0.10  # 5 × rsd — beyond the expected 3σ tail (parity pin)
_AU_TIGHT = 0.06  # 3 × rsd — asserted in tests on the fixed corpora


def _active_users_hll_sql(us: str, engine: bool) -> str:
    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    off7 = " UNION ALL ".join(f"SELECT {k} AS o" for k in range(7))
    off30 = " UNION ALL ".join(f"SELECT {k} AS o" for k in range(30))

    def cnt(alias: str) -> str:
        base = f"CAST(count(DISTINCT user_id) AS BIGINT) AS {alias}"
        if engine:
            base += (
                f", CAST(approx_count_distinct(user_id, {_AU_RSD}e0) "
                f"AS BIGINT) AS {alias}_hll"
            )
        return base

    def ok(alias: str) -> str:
        if engine:
            return (
                f"abs(CAST({alias}_hll AS DOUBLE) - CAST({alias} AS DOUBLE))"
                f" <= {_AU_BOUND}e0 * CAST({alias} AS DOUBLE) AS {alias}_ok"
            )
        return f"TRUE AS {alias}_ok"

    return f"""
WITH user_days AS (
  SELECT DISTINCT user_id, {day} AS day FROM events
),
cal AS (SELECT CAST(max(day) AS BIGINT) AS max_day FROM user_days),
dau AS (
  SELECT day, {cnt("dau")} FROM user_days GROUP BY day
),
wau AS (
  SELECT ud.day + o.o AS day, {cnt("wau")}
  FROM user_days ud CROSS JOIN ({off7}) o
  GROUP BY ud.day + o.o
),
mau AS (
  SELECT ud.day + o.o AS day, {cnt("mau")}
  FROM user_days ud CROSS JOIN ({off30}) o
  GROUP BY ud.day + o.o
)
SELECT d.day, d.dau, w.wau, m.mau,
       {ok("d.dau").replace("d.dau_ok", "dau_ok")},
       {ok("w.wau").replace("w.wau_ok", "wau_ok")},
       {ok("m.mau").replace("m.mau_ok", "mau_ok")}
FROM dau d
JOIN wau w ON w.day = d.day
JOIN mau m ON m.day = d.day
CROSS JOIN cal
WHERE d.day <= cal.max_day
"""


@register(
    "events_active_users_hll",
    oracle=_active_users_hll_sql("epoch_us(ts)", engine=False),
    description="the registered HLL swap-in for events_active_users: "
    "identical rolling-distinct SQL shape with approx_count_distinct "
    f"(HLL++, rsd={_AU_RSD}) computed alongside the exact count at "
    "every grain — proving the swap is a one-function substitution; "
    "parity follows the sketch_hll_merge contract (exact values + "
    f"5σ≈{_AU_BOUND:.0%} bound booleans — pinned beyond the expected "
    f"3σ tail so TRUE is robust on any dataset; the tight "
    f"{_AU_TIGHT:.0%} check is test-side on the fixed corpora; sketch "
    "estimates are engine-specific, the bound is not); at extreme "
    "user counts the exact "
    "aggregate drops and per-(day,grain) state becomes constant "
    "2^lgK bytes",
)
def events_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_active_users_hll_sql("unix_micros(ts)", engine=True))


# --- Welch's heteroscedastic one-way ANOVA (wave 24) ---
# stats_anova_oneway assumes equal group variances — exactly what
# stats_levene_bf and stats_breusch_pagan exist to refute; Welch's
# F* is the test to run when they do. Per event type, weights
# w_i = n_i/s_i² from EXACT wide-integer moment sums (only the final
# ratios are doubles), then the standard chain:
#   x̄_w = Σw x̄/Σw,  A = Σw(x̄−x̄_w)²/(k−1),
#   B = 2(k−2)/(k²−1) · Σ(1−w/W)²/(n−1),
#   F* = A/(1+B),  df₂ = (k²−1)/(3·Σ(1−w/W)²/(n−1)).
# The cross-group sums are over k=5 FULL-ENTROPY doubles — plain
# sum() diverged in the last ulp between engines on first run
# (partial-agg order), and decimal routing would hit the parity
# coin-flip bound at these magnitudes — so every cross-group sum is
# an ORDER-PINNED fold in group order (the _LM_FOLD / hurst idiom):
# identical addition order ⇒ bit-identical, zero quantization, and
# k-bounded so it scales trivially. No tabulated constants — every
# emitted number replays from group moments (the CvM discipline).
#
# Scale: one k-group aggregate with map-side combine, k-row folds,
# a 1-row finish.


def _welch_fold_spark(col: str) -> str:
    return (
        f"aggregate(transform(array_sort(collect_list("
        f"named_struct('g', g, 'x', {col}))), s -> s.x), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _welch_fold_duck(col: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list({col} ORDER BY g)), (acc, v) -> acc + v)"
    )


def _welch_anova_sql(w19: str, fold) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    return f"""
WITH y AS (
  SELECT event_type AS g, CAST(round(value * 100e0) AS BIGINT) AS v
  FROM events
),
per_g AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(CAST(v AS {w19}) * v) AS {w19}) AS svv
  FROM y GROUP BY g
),
moments AS (
  SELECT g, n,
         CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         ({s2d("svv")} - CAST(sv AS DOUBLE)
            * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
           / nullif(CAST(n AS DOUBLE) - 1e0, 0e0) AS s2
  FROM per_g
),
wts AS (
  -- nullif guards (ADVICE r11): a constant-valued group has s2 = 0 and
  -- a singleton group has n−1 = 0; without the guard Spark emits NULL
  -- while DuckDB emits inf/NaN, breaking engine/oracle parity. With it
  -- both engines emit NULL identically on degenerate inputs.
  SELECT g, n, mean, s2, CAST(n AS DOUBLE) / nullif(s2, 0e0) AS w
  FROM moments
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         {fold("w")} AS big_w,
         {fold("w * mean")} AS swm
  FROM wts
),
devs AS (
  SELECT wt.g, t.k, t.big_w,
         wt.w * (wt.mean - t.swm / nullif(t.big_w, 0e0))
              * (wt.mean - t.swm / nullif(t.big_w, 0e0)) AS adev,
         (1e0 - wt.w / nullif(t.big_w, 0e0))
           * (1e0 - wt.w / nullif(t.big_w, 0e0))
           / nullif(CAST(wt.n AS DOUBLE) - 1e0, 0e0) AS ldev
  FROM wts wt CROSS JOIN tot t
),
core AS (
  SELECT CAST(max(k) AS BIGINT) AS k,
         {fold("adev")} / nullif(CAST(max(k) AS DOUBLE) - 1e0, 0e0)
           AS a_num,
         {fold("ldev")} AS lam
  FROM devs
)
SELECT k,
       a_num / nullif(1e0 + (2e0 * (CAST(k AS DOUBLE) - 2e0)
                       / nullif(CAST(k AS DOUBLE)
                                * CAST(k AS DOUBLE) - 1e0, 0e0))
                      * lam, 0e0) AS f_star,
       CAST(k AS DOUBLE) - 1e0 AS df1,
       (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1e0)
         / nullif(3e0 * lam, 0e0) AS df2
FROM core
"""


@register(
    "stats_welch_anova",
    oracle=_welch_anova_sql("HUGEINT", _welch_fold_duck),
    description="Welch's heteroscedastic one-way ANOVA across event "
    "types (the test to run when stats_levene_bf rejects equal "
    "variances): weights n/s² from exact wide-integer moment sums, "
    "cross-group sums as ORDER-PINNED k-row folds (bit-identical, no "
    "quantization — plain sum() lost the last ulp to partial-agg "
    "order), F* and Welch-Satterthwaite df₂ — no tabulated constants; "
    "one k-group aggregate + a 1-row finish",
)
def stats_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_welch_anova_sql("DECIMAL(38,0)", _welch_fold_spark))


# --- Kuiper two-sample test (wave 25) ---
# KS's D = max|F1−F2| is least sensitive in the distribution TAILS
# and not invariant under cyclic shifts; Kuiper's V = D⁺ + D⁻ (max
# signed gap each way) fixes both — the right drift statistic for
# periodic quantities and tail-sensitive monitoring, completing the
# drift ladder beside stats_ks_test / profile_psi_drift. Same
# engine-exactness story as the Mann-Whitney family: cents grouping
# first bounds the working set to the VALUE DOMAIN (never row-shaped),
# then one cumulative window over that bounded set; ECDF values are
# single correctly-rounded divisions of exact integers; the
# signed-gap/max/add chain is shared text.
#
# Scale: one cents aggregate with map-side combine, one value-domain-
# bounded cumulative window, a 1-row finish.


def _kuiper_sql() -> str:
    return f"""
WITH pts AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS v,
         CAST(sum(CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_type = '{_MW_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
  GROUP BY CAST(round(value * 100e0) AS BIGINT)
),
run AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS r1,
         CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS r2
  FROM pts
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM pts
),
gaps AS (
  SELECT max(CAST(r.r1 AS DOUBLE) / t.n1
             - CAST(r.r2 AS DOUBLE) / t.n2) AS d_plus,
         max(CAST(r.r2 AS DOUBLE) / t.n2
             - CAST(r.r1 AS DOUBLE) / t.n1) AS d_minus
  FROM run r CROSS JOIN tot t
)
SELECT t.n1, t.n2,
       greatest(g.d_plus, 0e0) AS d_plus,
       greatest(g.d_minus, 0e0) AS d_minus,
       greatest(g.d_plus, 0e0) + greatest(g.d_minus, 0e0) AS v_stat,
       (greatest(g.d_plus, 0e0) + greatest(g.d_minus, 0e0))
         * sqrt(CAST(t.n1 AS DOUBLE) * t.n2 / (t.n1 + t.n2)) AS v_scaled
FROM tot t CROSS JOIN gaps g
"""


@register(
    "stats_kuiper",
    oracle=_kuiper_sql(),
    description=f"Kuiper two-sample test ({_MW_A} vs {_MW_B} cents): "
    "V = D⁺ + D⁻ (max signed ECDF gap each way) — tail-sensitive and "
    "cyclic-shift-invariant where KS's D is not, completing the drift "
    "ladder beside stats_ks_test and profile_psi_drift; cents-domain-"
    "bounded cumulative window, exact-integer ECDF numerators, 1-row "
    "finish",
)
def stats_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_kuiper_sql())


# --- revenue concentration (Lorenz shares) (wave 25) ---
# dq_skew_gini compresses inequality to one number; operations asks
# the quantile question directly: what share of purchase revenue do
# the top 1% / 10% / 50% of users hold? Users aggregate to exact
# per-user cents totals; the ENGINE ranks them by (revenue DESC, user)
# with the range-partitioned two-pass prefix machinery
# (operators/ranking.global_running_sums + global row numbers — no
# single-partition window on the user-shaped set); the oracle uses a
# plain global window, tractable at oracle scale — different plan,
# identical values (the stats_ks_test pattern). Cut ranks are
# ceil(p·U) — exact integers; shares are single divisions of exact
# wide sums.
#
# Scale: one user aggregate, one distributed range sort + two-pass
# prefix sums, a 3-row literal join — the 100 TB shape for "top-p%"
# questions.

LORENZ_PCTS = (1, 10, 50)


def _lorenz_oracle() -> str:
    pcts = " UNION ALL ".join(f"SELECT {p} AS pct" for p in LORENZ_PCTS)
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS rev
  FROM events WHERE event_type = '{_MW_A}'
  GROUP BY user_id
),
ranked AS (
  SELECT rev,
         CAST(row_number() OVER (ORDER BY rev DESC, user_id) AS BIGINT)
           AS rk,
         CAST(sum(rev) OVER (ORDER BY rev DESC, user_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS crev
  FROM per_user
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS u,
         CAST(sum(rev) AS BIGINT) AS total_rev
  FROM per_user
)
SELECT p.pct, t.u AS n_users,
       CAST(ceil(CAST(p.pct AS DOUBLE) * t.u / 100e0) AS BIGINT)
         AS n_top,
       (SELECT max(crev) FROM ranked r
        WHERE r.rk <= CAST(ceil(CAST(p.pct AS DOUBLE) * t.u / 100e0)
                           AS BIGINT)) AS top_rev,
       CAST((SELECT max(crev) FROM ranked r
             WHERE r.rk <= CAST(ceil(CAST(p.pct AS DOUBLE) * t.u / 100e0)
                                AS BIGINT)) AS DOUBLE)
         / CAST(t.total_rev AS DOUBLE) AS rev_share
FROM ({pcts}) p CROSS JOIN tot t
"""


@register(
    "events_revenue_concentration",
    oracle=_lorenz_oracle(),
    description=f"Lorenz revenue-concentration shares at the top "
    f"{LORENZ_PCTS}% of purchase users: exact per-user cents totals, "
    "ENGINE ranking via the range-partitioned two-pass prefix "
    "machinery (no single-partition window on the user-shaped set; "
    "oracle uses a plain window — the stats_ks_test different-plan/"
    "same-values pattern), cut ranks ceil(p·U) exact — the quantile "
    "question dq_skew_gini's single number compresses away",
)
def events_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import (
        global_row_number,
        global_running_sums,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_user = spark.sql(
        f"""
        SELECT user_id,
               CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT)
                 AS rev
        FROM events WHERE event_type = '{_MW_A}' GROUP BY user_id
        """
    )
    order = [F.col("rev").desc(), F.col("user_id")]
    ranked = global_running_sums(
        global_row_number(per_user, order, "rk"), order, ["rev"]
    )
    ranked.createOrReplaceTempView("pls_lorenz_ranked")
    pcts = " UNION ALL ".join(f"SELECT {p} AS pct" for p in LORENZ_PCTS)
    return spark.sql(
        f"""
        WITH tot AS (
          SELECT CAST(count(*) AS BIGINT) AS u,
                 CAST(sum(rev) AS BIGINT) AS total_rev
          FROM pls_lorenz_ranked
        )
        SELECT p.pct, t.u AS n_users,
               CAST(ceil(CAST(p.pct AS DOUBLE) * t.u / 100e0) AS BIGINT)
                 AS n_top,
               (SELECT max(run_rev) FROM pls_lorenz_ranked r
                WHERE r.rk <= CAST(ceil(CAST(p.pct AS DOUBLE) * t.u
                                        / 100e0) AS BIGINT)) AS top_rev,
               CAST((SELECT max(run_rev) FROM pls_lorenz_ranked r
                     WHERE r.rk <= CAST(ceil(CAST(p.pct AS DOUBLE) * t.u
                                             / 100e0) AS BIGINT)) AS DOUBLE)
                 / CAST(t.total_rev AS DOUBLE) AS rev_share
        FROM ({pcts}) p CROSS JOIN tot t
        """
    )


# --- Theil's U (uncertainty coefficient) — wave 26 ---
# The association ladder (χ² → Cramér's V → MI/NMI) is symmetric; the
# feature-selection question usually isn't ("how much does PRIORITY
# tell me about STATUS?" ≠ the reverse when the marginals differ).
# Theil's U is the asymmetric normalization of the same mutual
# information: U(Y|X) = I(X;Y)/H(Y), U(X|Y) = I(X;Y)/H(X) — each in
# [0,1], each answering one direction. Same exact-integer discipline
# as stats_mutual_information, on the orders (priority × status)
# table: every ln argument is an integer through the deterministic
# kernel (c·N ≤ N² stays BIGINT-exact at sf10), every cross-cell sum
# of doubles is a cell-ordered fold, degenerate single-value marginals
# nullif to NULL on both engines.
#
# Scale: one (priority, status) count aggregate sees data; everything
# downstream is |cells| + |marginals| rows of kernel math.


def _theil_u_sql(fold_cells: str, fold_x: str, fold_y: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    ln_c, last_c = dln_int_cte_layers(
        [("o * nn", "num"), ("rt * ct", "den")], "cellsx", "tuc"
    )
    ln_x, last_x = dln_int_cte_layers([("rt", "lr")], "rows_m2", "tux")
    ln_y, last_y = dln_int_cte_layers([("ct", "lc")], "cols_m2", "tuy")
    ln_n, last_n = dln_int_cte_layers([("n", "ln_")], "tot", "tun_")
    return f"""
WITH cells AS (
  SELECT o_orderpriority AS xv, o_orderstatus AS yv,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
),
rows_m AS (SELECT xv, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY xv),
cols_m AS (SELECT yv, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY yv),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
{ln_n},
cellsx AS (
  SELECT c.xv, c.yv, c.o, r.rt, m.ct, t.n AS nn
  FROM cells c
  JOIN rows_m r ON r.xv = c.xv
  JOIN cols_m m ON m.yv = c.yv
  CROSS JOIN tot t
),
{ln_c},
miterms AS (
  SELECT xv, yv,
         (CAST(o AS DOUBLE) / CAST(nn AS DOUBLE)) * (num_ln - den_ln) AS term
  FROM {last_c}
),
rows_m2 AS (SELECT xv, rt FROM rows_m),
{ln_x},
xterms AS (SELECT xv, CAST(rt AS DOUBLE) * lr_ln AS term FROM {last_x}),
cols_m2 AS (SELECT yv, ct FROM cols_m),
{ln_y},
yterms AS (SELECT yv, CAST(ct AS DOUBLE) * lc_ln AS term FROM {last_y}),
agg AS (
  SELECT
    (SELECT {fold_cells} FROM miterms) AS mi,
    (SELECT ln__ln FROM {last_n}) AS ln_n,
    (SELECT CAST(n AS DOUBLE) FROM tot) AS nd,
    (SELECT {fold_x} FROM xterms) AS sx,
    (SELECT {fold_y} FROM yterms) AS sy
)
SELECT mi AS mi_nats,
       ln_n - sx / nd AS h_priority,
       ln_n - sy / nd AS h_status,
       mi / nullif(ln_n - sy / nd, 0.0e0) AS u_status_given_priority,
       mi / nullif(ln_n - sx / nd, 0.0e0) AS u_priority_given_status
FROM agg
"""


_TU_FOLD_SPARK_CELLS = (
    "aggregate(transform(array_sort(collect_list(struct(xv, yv, term))), "
    "s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_TU_FOLD_DUCK_CELLS = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list(term ORDER BY xv, yv)), (acc, v) -> acc + v)"
)
_TU_FOLD_SPARK_X = (
    "aggregate(transform(array_sort(collect_list(struct(xv, term))), "
    "s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_TU_FOLD_DUCK_X = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list(term ORDER BY xv)), (acc, v) -> acc + v)"
)
_TU_FOLD_SPARK_Y = _TU_FOLD_SPARK_X.replace("xv", "yv")
_TU_FOLD_DUCK_Y = _TU_FOLD_DUCK_X.replace("xv", "yv")


@register(
    "stats_theil_u",
    oracle=_theil_u_sql(_TU_FOLD_DUCK_CELLS, _TU_FOLD_DUCK_X, _TU_FOLD_DUCK_Y),
    description="Theil's U uncertainty coefficients on the order "
    "priority × status table — the ASYMMETRIC rung of the association "
    "ladder (U(status|priority) = I/H(status) ≠ U(priority|status) "
    "when the marginals differ — the direction-aware feature-selection "
    "readout MI/NMI can't give): every ln argument an exact integer "
    "through the deterministic kernel, cell-ordered folds for all "
    "double sums, nullif-guarded degenerate marginals; one aggregate "
    "sees data",
)
def stats_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        _theil_u_sql(_TU_FOLD_SPARK_CELLS, _TU_FOLD_SPARK_X, _TU_FOLD_SPARK_Y)
    )


# --- time-to-convert distribution (wave 26) ---
# funnel_analysis counts WHO converts; the growth question behind SLAs
# and attribution windows is HOW FAST: the latency from a user's first
# view to their first subsequent purchase. Percentiles on doubles are
# interpolation-convention quicksand across engines, so latency is
# bucketed to integer minutes and percentiles are defined by the exact
# integer cumulative-count threshold (p_q = smallest bucket whose
# running count satisfies q·n, cross-multiplied in integers — no
# division, no interpolation, bit-identical by construction).
#
# Scale: two user-grain aggregates + one user equi-join; the quantile
# pass runs on the minute-bucket table, whose size is bounded by the
# observed calendar span (≤ ~44k rows/month) — the window there is
# single-partition but constant-bounded, same class as the k-row
# calendar frames elsewhere (documented; at unbounded spans swap in
# the range-partitioned prefix machinery).

_US_MIN = 60_000_000


def _time_to_convert_sql(us: str) -> str:
    return f"""
WITH firsts AS (
  SELECT user_id, CAST(min({us}) AS BIGINT) AS v0
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT f.user_id, f.v0, CAST(min({us.replace("ts", "e.ts")}) AS BIGINT) AS p0
  FROM firsts f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND {us.replace("ts", "e.ts")} >= f.v0
  GROUP BY f.user_id, f.v0
),
lat AS (
  SELECT CAST(floor(CAST(p0 - v0 AS DOUBLE) / {float(_US_MIN)!r}e0)
              AS BIGINT) AS lat_min
  FROM conv
),
counts AS (
  SELECT lat_min, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY lat_min
),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM firsts) AS n_viewers,
         (SELECT CAST(count(*) AS BIGINT) FROM lat) AS n_converted
),
cum AS (
  SELECT lat_min,
         CAST(sum(c) OVER (ORDER BY lat_min
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rc
  FROM counts
)
SELECT t.n_viewers, t.n_converted,
       CAST(t.n_converted AS DOUBLE) / nullif(CAST(t.n_viewers AS DOUBLE),
                                              0e0)
         AS conversion_rate,
       (SELECT min(lat_min) FROM cum WHERE 2 * rc >= t.n_converted)
         AS p50_minutes,
       (SELECT min(lat_min) FROM cum WHERE 10 * rc >= 9 * t.n_converted)
         AS p90_minutes,
       (SELECT max(lat_min) FROM cum) AS max_minutes
FROM tot t
"""


@register(
    "events_time_to_convert",
    oracle=_time_to_convert_sql("epoch_us(ts)"),
    description="first-view → first-subsequent-purchase latency "
    "distribution (the HOW-FAST companion to funnel_analysis's "
    "who-converts): per-user min-timestamp aggregates + one user "
    "equi-join, latency bucketed to integer minutes, p50/p90 by exact "
    "integer cumulative-count thresholds (cross-multiplied — no "
    "percentile interpolation convention to diverge between engines); "
    "quantile pass bounded by the calendar span",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_time_to_convert_sql("unix_micros(ts)"))


# --- one-sample Kolmogorov-Smirnov vs a uniform reference (wave 27) ---
# stats_ks_test compares two SAMPLES; the drift-to-SPEC question is
# one-sample: do the purchase amounts still follow the flat generator
# they were provisioned with? D⁺/D⁻/D against Uniform[a,b] with a,b
# the observed cents min/max (parameters estimated from the sample —
# the Lilliefors caveat on critical values, documented; the STATISTIC
# is exact and fully replayable, and p-value tables are out of replay
# scope repo-wide). On the distinct-value grid:
#   D⁺ = max( cum_through(x)/n − F(x) ),  D⁻ = max( F(x) − cum_below(x)/n ),
# F(x) = (x−a)/(b−a) — every term a ratio of exact integers, the
# max/abs chain shared text. One value-grid aggregate + a domain-
# bounded window (swap in the range-partitioned prefix machinery for
# an unbounded value domain — here cents are domain-bounded).

KSU_TYPE = "purchase"

KS_UNIFORM_SQL = f"""
WITH vals AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = '{KSU_TYPE}'
  GROUP BY 1
),
cum AS (
  SELECT x, c,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS thru,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vals
),
ab AS (SELECT min(x) AS a, max(x) AS b FROM vals),
gaps AS (
  SELECT cum.x, cum.n,
         CAST(cum.thru AS DOUBLE) / cum.n
           - CAST(cum.x - ab.a AS DOUBLE) / nullif(ab.b - ab.a, 0) AS gp,
         CAST(cum.x - ab.a AS DOUBLE) / nullif(ab.b - ab.a, 0)
           - CAST(cum.thru - cum.c AS DOUBLE) / cum.n AS gm
  FROM cum CROSS JOIN ab
)
SELECT max(n) AS n,
       (SELECT CAST(a AS DOUBLE) / 100e0 FROM ab) AS ref_lo,
       (SELECT CAST(b AS DOUBLE) / 100e0 FROM ab) AS ref_hi,
       max(gp) AS d_plus,
       max(gm) AS d_minus,
       greatest(max(gp), max(gm)) AS d_stat,
       greatest(max(gp), max(gm)) * sqrt(CAST(max(n) AS DOUBLE))
         AS d_scaled
FROM gaps
"""


@register(
    "stats_ks_uniform",
    oracle=KS_UNIFORM_SQL,
    description="one-sample Kolmogorov-Smirnov against the Uniform[min,"
    "max] reference on purchase cents — the drift-to-SPEC companion of "
    "the two-sample stats_ks_test (did the generator's flat "
    "distribution survive the pipeline?): D⁺/D⁻/D and √n·D from exact "
    "integer ECDF/CDF ratios on the distinct-value grid; parameters "
    "estimated from the sample (Lilliefors caveat documented — "
    "critical-value tables are out of replay scope repo-wide); "
    "domain-bounded window",
)
def stats_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Engine side follows the stats_ks_test discipline: the global ECDF
    # comes from the range-partitioned two-pass prefix operator, never a
    # single-partition window (the oracle keeps the plain window — it
    # needn't scale). Identical values, different plan.
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    vals = (
        e.filter(F.col("event_type") == KSU_TYPE)
        .groupBy(F.expr("CAST(round(value * 100e0) AS BIGINT)").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    run = global_running_sums(vals, ["x"], ["c"])
    ab = vals.agg(
        F.min("x").alias("a"),
        F.max("x").alias("b"),
        F.sum("c").cast("long").alias("n"),
    )
    # nullif guard (r12 ADVICE): on a degenerate single-value grid b == a
    # and DuckDB would emit inf/NaN from x/0 while Spark emits NULL —
    # nullif makes both engines emit NULL identically (same class as the
    # stats_welch_anova guard).
    span = F.expr("nullif(b - a, 0)")
    gaps = run.crossJoin(F.broadcast(ab)).select(
        "n",
        "a",
        "b",
        (
            F.col("run_c").cast("double") / F.col("n")
            - (F.col("x") - F.col("a")).cast("double") / span
        ).alias("gp"),
        (
            (F.col("x") - F.col("a")).cast("double") / span
            - (F.col("run_c") - F.col("c")).cast("double") / F.col("n")
        ).alias("gm"),
    )
    return gaps.agg(
        F.max("n").alias("n"),
        (F.max("a").cast("double") / F.lit(100.0)).alias("ref_lo"),
        (F.max("b").cast("double") / F.lit(100.0)).alias("ref_hi"),
        F.max("gp").alias("d_plus"),
        F.max("gm").alias("d_minus"),
        F.greatest(F.max("gp"), F.max("gm")).alias("d_stat"),
        (
            F.greatest(F.max("gp"), F.max("gm"))
            * F.sqrt(F.max("n").cast("double"))
        ).alias("d_scaled"),
    )


# --- TOST equivalence test (wave 28) ---
# stats_welch_ttest asks "are the groups DIFFERENT?"; launch reviews
# usually need the opposite: "are they the SAME within a margin?" —
# and absence of significance is NOT evidence of equivalence. TOST
# (two one-sided tests, Schuirmann 1987) does it right: declare
# equivalence iff BOTH t_lower = (Δ−(−δ))/se and t_upper = (δ−Δ)/se
# clear the threshold. δ here is 5% of the pooled mean (a relative
# margin — the usual A/B guardrail form). Same exact-moment discipline
# as stats_welch_ttest (decimal-routed Σx/Σx², fixed double chain,
# degenerate guards); NO p-value (t-quantiles are tabulated constants,
# out of replay scope repo-wide) — both t's and the margin are the
# replayable readout, with t > 2 ≈ the usual gate.
#
# Scale: one two-group map-side-combinable aggregate, 1-row finish.

TOST_MARGIN_FRAC = 0.05


def _tost_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    stats = """
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         {sx} AS sx,
         {sxx} AS sxx
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type
""".format(sx=dsum_expr("value"), sxx=dsum_expr("value * value"))
    return f"""
WITH stats AS ({stats}),
wide AS (
  SELECT
    max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
    max(CASE WHEN event_type = 'purchase' THEN sx END) AS sx1,
    max(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx1,
    max(CASE WHEN event_type = 'click' THEN n END) AS n2,
    max(CASE WHEN event_type = 'click' THEN sx END) AS sx2,
    max(CASE WHEN event_type = 'click' THEN sxx END) AS sxx2
  FROM stats
),
m AS (
  SELECT n1, n2,
         sx1 / n1 AS mean1, sx2 / n2 AS mean2,
         (greatest(sxx1 - (sx1 * sx1) / n1, 0.0e0) / nullif(n1 - 1, 0)) / n1 AS se1sq,
         (greatest(sxx2 - (sx2 * sx2) / n2, 0.0e0) / nullif(n2 - 1, 0)) / n2 AS se2sq
  FROM wide
),
d AS (
  SELECT n1, n2, mean1, mean2,
         mean1 - mean2 AS delta,
         sqrt(se1sq + se2sq) AS se,
         {TOST_MARGIN_FRAC!r}e0 * ((mean1 + mean2) / 2.0e0) AS margin
  FROM m
)
SELECT n1, n2, mean1, mean2, delta, margin,
       (delta + margin) / nullif(se, 0.0e0) AS t_lower,
       (margin - delta) / nullif(se, 0.0e0) AS t_upper,
       least((delta + margin) / nullif(se, 0.0e0),
             (margin - delta) / nullif(se, 0.0e0)) AS t_tost
FROM d
"""


@register(
    "stats_tost_equivalence",
    oracle=_tost_sql(),
    description=f"TOST equivalence test (Schuirmann's two one-sided "
    f"tests, ±{TOST_MARGIN_FRAC:.0%}-of-pooled-mean margin) between "
    "purchase and click values — the 'are they the SAME within δ?' "
    "complement of stats_welch_ttest (non-significance is not "
    "equivalence): both one-sided t's plus their min (the TOST "
    "statistic), exact decimal moments, degenerate guards; no "
    "tabulated quantiles — one two-row aggregate, 1-row finish",
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_tost_sql())


# --- one-sample Cramér-von Mises vs the uniform reference (wave 29) ---
# stats_ks_uniform reads the WORST ECDF gap; CvM integrates ALL of it:
# T = n·ω² = 1/(12n) + Σ_i (F(x_i) − (2i−1)/(2n))² — more powerful against
# diffuse drift that never produces one big gap. With tied values the
# rank block lo+1..lo+c contributes a CLOSED FORM per distinct value:
#   c·F² − F·S1/n + S2/(4n²),
#   S1 = Σ(2k−1) = hi² − lo²           (exact BIGINT),
#   S2 = Σ(2k−1)² = 4ΣK² − 4ΣK + c    (exact wide ints via the
#        telescoped k(k+1)(2k+1)/6 and k(k+1)/2 sums — divisions exact
#        by construction, ≈1.7e30 at 1e10 rows: inside int128),
# so the only doubles are the per-value assembled terms, reduced with
# a scale-10 decimal route (coin-flip estimate ≪ 1 on the ≤ ~50k-value
# cents grid). Same Lilliefors caveat as stats_ks_uniform; no critical
# tables — T = n·ω² and ω² are the replayable readout.
#
# Scale: one value-grid aggregate + the range-partitioned prefix
# operator on the engine side (oracle keeps its plain window).

CVM_TYPE = "purchase"


def _cvm_uniform_sql(w19: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    # division-free telescoped sums (DuckDB HUGEINT `/` is FLOAT
    # division — lossy past 2⁵³, i.e. from sf10 up; so S2 is carried
    # ×3: 3·S2 = 2·ΔT2 − 6·ΔT1 + 3c with T2 = v(v+1)(2v+1),
    # T1 = v(v+1), and the final divisor becomes 12n² instead of 4n²)
    def t1(v: str) -> str:
        return f"(CAST({v} AS {w19}) * ({v} + 1))"

    def t2(v: str) -> str:
        return f"(CAST({v} AS {w19}) * ({v} + 1) * (2 * {v} + 1))"

    return f"""
WITH vals AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = '{CVM_TYPE}'
  GROUP BY 1
),
cum AS (
  SELECT x, c,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS hi,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vals
),
ab AS (SELECT min(x) AS a, max(x) AS b FROM vals),
terms AS (
  SELECT cum.x, cum.n,
         CAST(cum.c AS DOUBLE)
             * (CAST(cum.x - ab.a AS DOUBLE) / nullif(ab.b - ab.a, 0))
             * (CAST(cum.x - ab.a AS DOUBLE) / nullif(ab.b - ab.a, 0))
         - (CAST(cum.x - ab.a AS DOUBLE) / nullif(ab.b - ab.a, 0))
             * {s2d(f"CAST(CAST(cum.hi AS {w19}) * cum.hi - CAST(cum.hi - cum.c AS {w19}) * (cum.hi - cum.c) AS {w19})")}
             / CAST(cum.n AS DOUBLE)
         + {s2d(
             f"CAST(2 * ({t2('cum.hi')} - {t2('(cum.hi - cum.c)')}) "
             f"- 6 * ({t1('cum.hi')} - {t1('(cum.hi - cum.c)')}) "
             f"+ 3 * cum.c AS {w19})"
         )}
             / (12e0 * CAST(cum.n AS DOUBLE) * cum.n) AS term
  FROM cum CROSS JOIN ab
)
SELECT max(n) AS n,
       1e0 / (12e0 * max(n)) + {dsum_expr("term", 10)} AS cvm_t,
       (1e0 / (12e0 * max(n)) + {dsum_expr("term", 10)}) / max(n) AS omega2
FROM terms
"""


@register(
    "stats_cvm_uniform",
    oracle=_cvm_uniform_sql("HUGEINT"),
    description="one-sample Cramér-von Mises T = n·ω² against the Uniform"
    "[min,max] reference — integrates the WHOLE ECDF gap where "
    "stats_ks_uniform reads only its max (more powerful against "
    "diffuse drift): tied-rank blocks in closed form from exact "
    "telescoped Σk/Σk² wide-integer sums (int128-safe to 1e10 rows), "
    "doubles only at the per-value term, scale-10 decimal reduction; "
    "Lilliefors caveat as documented for the KS sibling; "
    "domain-bounded grid",
)
def stats_cvm_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cvm_uniform_sql("DECIMAL(38,0)"))


# --- period-over-period change report (wave 30) ---
# The first dashboard every metrics stack ships: per event type and
# day, revenue with day-over-day and week-over-week deltas. The lag
# values come from explicit day−1 / day−7 self-joins (true calendar
# offsets — never lag() over a gapped row sequence, the same
# correctness point timeseries_granger makes), LEFT so the leading
# days still report with NULL deltas; cents totals are exact BIGINTs
# and each pct is one guarded division.
#
# Scale: one (type, day) aggregate + two calendar-bounded equi-joins;
# report size = types × days.


def _pop_sql(us: str) -> str:
    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type, {day}
)
SELECT c.event_type, c.day,
       CAST(c.cents AS DOUBLE) / 100e0 AS revenue,
       CAST(c.cents - d.cents AS DOUBLE) / nullif(CAST(d.cents AS DOUBLE), 0e0)
         AS dod_pct,
       CAST(c.cents - w.cents AS DOUBLE) / nullif(CAST(w.cents AS DOUBLE), 0e0)
         AS wow_pct
FROM daily c
LEFT JOIN daily d ON d.event_type = c.event_type AND d.day = c.day - 1
LEFT JOIN daily w ON w.event_type = c.event_type AND w.day = c.day - 7
"""


@register(
    "events_period_over_period",
    oracle=_pop_sql("epoch_us(ts)"),
    description="period-over-period change report (per type and day: "
    "revenue, day-over-day %, week-over-week %): lags from explicit "
    "day−1/day−7 calendar self-joins — never lag() over a gapped row "
    "sequence — LEFT so leading days report NULL deltas; exact cents "
    "totals, guarded divisions; two calendar-bounded equi-joins",
)
def events_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_pop_sql("unix_micros(ts)"))


# --- one-sample Anderson-Darling vs a uniform reference (wave 33) ---
# Completes the one-sample GoF trio: KS reads the max ECDF gap, CvM
# integrates the squared gap, AD re-weights that integral by
# 1/(F(1−F)) — maximal sensitivity in the TAILS, which is where
# pipeline truncation/clipping bugs live. A² from the order statistics:
#   A² = −n − (1/n)·Σᵢ (2i−1)·[ln F(x₍ᵢ₎) + ln(1−F(x₍ₙ₊₁₋ᵢ₎))]
# on the distinct-value grid in tied-block closed form (the CvM
# discipline): a block with exclusive/inclusive cumulative bounds
# (lo, hi] contributes (hi²−lo²) to Σ(2i−1) and 2n(hi−lo)−(hi²−lo²)
# to the reversed-index weight. The reference is Uniform on
# [a−½, b+½] (continuity correction on the cents grid — the endpoints
# then have F ∈ (0,1) strictly, so ln never sees 0; the plain [a,b]
# reference is undefined at its own sample extremes). Every ln is the
# deterministic integer-ln kernel over EXACT integers:
#   ln F(x)    = dln(2x−2a+1) − dln(2(b−a+1)),
#   ln(1−F(x)) = dln(2b−2x+1) − dln(2(b−a+1)),
# term sums decimal-routed. Parameters estimated from the sample
# (same Lilliefors caveat as stats_ks_uniform, documented; critical
# values are tabulated constants, out of replay scope repo-wide).
#
# Scale: one value-grid aggregate + a domain-bounded prefix (engine:
# the range-partitioned two-pass operator; oracle: a plain window),
# grid-bounded ln stages, a 1-row finish.

ADU_TYPE = "purchase"


def _ad_uniform_final(src: str) -> str:
    """Shared finish over `src(x, c, hi, n, a, b)`: tied-block A²."""
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    layers, last = dln_int_cte_layers(
        [("fa", "fa"), ("fb", "fb"), ("fd", "fd")], "adargs", "adl"
    )
    return f"""
WITH adargs AS (
  SELECT x, c, hi, CAST(hi - c AS BIGINT) AS lo, n, a, b,
         CAST(2 * x - 2 * a + 1 AS BIGINT) AS fa,
         CAST(2 * b - 2 * x + 1 AS BIGINT) AS fb,
         CAST(2 * (b - a + 1) AS BIGINT) AS fd
  FROM {src}
),
{layers},
terms AS (
  SELECT n,
         (CAST(hi AS DOUBLE) * hi - CAST(lo AS DOUBLE) * lo)
             * (fa_ln - fd_ln)
           + (2.0e0 * n * (hi - lo)
              - (CAST(hi AS DOUBLE) * hi - CAST(lo AS DOUBLE) * lo))
             * (fb_ln - fd_ln) AS t
  FROM {last}
)
SELECT max(n) AS n,
       (SELECT CAST(2 * min(a) - 1 AS DOUBLE) / 200e0 FROM adargs) AS ref_lo,
       (SELECT CAST(2 * min(b) + 1 AS DOUBLE) / 200e0 FROM adargs) AS ref_hi,
       -CAST(max(n) AS DOUBLE)
         - {dsum_expr("t", 6)} / CAST(max(n) AS DOUBLE) AS a2
FROM terms
"""


def _ad_uniform_oracle() -> str:
    return f"""
WITH vals AS (
  SELECT CAST(round(value * 100e0) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = '{ADU_TYPE}'
  GROUP BY 1
),
cum AS (
  SELECT x, c,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS hi,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vals
),
ab AS (SELECT min(x) AS a, max(x) AS b FROM vals),
grid AS (
  SELECT cum.x, cum.c, cum.hi, cum.n, ab.a, ab.b FROM cum CROSS JOIN ab
),
final AS ({_ad_uniform_final("grid")})
SELECT * FROM final
"""


@register(
    "stats_ad_uniform",
    oracle=_ad_uniform_oracle(),
    description="one-sample Anderson-Darling against the continuity-"
    "corrected Uniform[min−½,max+½] reference on purchase cents — the "
    "TAIL-weighted member of the GoF trio (KS max gap / CvM integrated "
    "gap / AD 1/(F(1−F))-weighted): tied-block closed form on the "
    "distinct-value grid, every ln the deterministic integer-ln kernel "
    "over exact integers (ln F = dln(2x−2a+1) − dln(2(b−a+1))), term "
    "sums decimal-routed; the ½-grid correction keeps F strictly "
    "inside (0,1) so the sample extremes never hit ln 0; Lilliefors "
    "caveat documented, critical values out of replay scope",
)
def stats_ad_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Engine: the global cumulative count comes from the two-pass
    # range-partitioned prefix operator (the stats_ks_uniform split);
    # the tied-block finish is the shared text over a temp view.
    from posting_lines_spark.operators.ranking import global_running_sums

    e = load_table(spark, sf_dir, "events")
    vals = (
        e.filter(F.col("event_type") == ADU_TYPE)
        .groupBy(F.expr("CAST(round(value * 100e0) AS BIGINT)").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    run = global_running_sums(vals, ["x"], ["c"]).withColumnRenamed("run_c", "hi")
    ab = vals.agg(
        F.min("x").alias("a"),
        F.max("x").alias("b"),
        F.sum("c").cast("long").alias("n"),
    )
    grid = run.crossJoin(F.broadcast(ab)).select("x", "c", "hi", "n", "a", "b")
    grid.createOrReplaceTempView("pls_ad_grid")
    return spark.sql(_ad_uniform_final("pls_ad_grid"))


# --- Wald-Wolfowitz runs test on the daily series (wave 34) ---
# The randomness companion of timeseries_cusum_drift: CUSUM asks "did
# the MEAN shift?"; the runs test asks "is the sequence of days even
# RANDOM around its median?" — too few runs = positive serial
# dependence (regimes), too many = oscillation. Dichotomize the daily
# purchase-cents series against its exact median (2·median =
# x₍⌈n/2⌉₎ + x₍n+1−⌈n/2⌉₎ — integer; days equal to the median are
# dropped, the standard convention), count runs R in day order, and
#   E[R] = 1 + 2·n1·n2/(n1+n2),
#   Var  = 2·n1·n2·(2·n1·n2 − n1 − n2) / ((n1+n2)²·(n1+n2−1)),
#   z    = (R − E[R]) / √Var
# — every input an exact integer, doubles only in the final three
# expressions, nullif-guarded (an all-above or all-below split has
# Var = 0 and both engines emit NULL identically). No p-value (normal
# quantiles are tabulated, out of replay scope repo-wide).
#
# Scale: the day grid is calendar-bounded, so the rank/lag windows are
# bounded rows at any corpus size — the daily-series discipline shared
# with timeseries_newey_west.

RUNS_TYPE = "purchase"

RUNS_TEST_SQL = f"""
WITH daily AS (
  SELECT CAST(floor({{us}} / 86400000000.0e0) AS BIGINT) AS day,
         CAST(sum(CAST(round(value * 100e0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = '{RUNS_TYPE}'
  GROUP BY 1
),
ranked AS (
  SELECT day, x,
         CAST(row_number() OVER (ORDER BY x, day) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
med AS (
  -- 2·median of the sorted values (rank-indexed; ties irrelevant to
  -- the two middle positions). floor(x/2e0) not x/2: bare `/` is
  -- DOUBLE division on BOTH engines, so `rk = (n+1)/2` matched no row
  -- at even n and the whole test went NULL — vacuously parity-green;
  -- the wave-34 Python replay caught it (the degeneracy-gate class).
  SELECT CAST(sum(CASE WHEN rk = CAST(floor((n + 1) / 2.0e0) AS BIGINT)
                       THEN x END)
              + sum(CASE WHEN rk = CAST(floor(n / 2.0e0) AS BIGINT) + 1
                         THEN x END) AS BIGINT) AS med2
  FROM ranked
),
signs AS (
  SELECT d.day, CASE WHEN 2 * d.x > m.med2 THEN 1 ELSE 0 END AS s
  FROM daily d CROSS JOIN med m
  WHERE 2 * d.x <> m.med2
),
runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
              OR s <> lag(s) OVER (ORDER BY day)
         THEN 1 ELSE 0 END AS is_new
  FROM signs
),
agg AS (
  SELECT CAST(sum(s) AS BIGINT) AS n1,
         CAST(sum(1 - s) AS BIGINT) AS n2,
         CAST(sum(is_new) AS BIGINT) AS r
  FROM runs
)
SELECT n1, n2, r,
       1.0e0 + 2.0e0 * n1 * n2 / nullif(CAST(n1 + n2 AS DOUBLE), 0e0)
         AS expected_runs,
       (CAST(r AS DOUBLE)
          - (1.0e0 + 2.0e0 * n1 * n2 / nullif(CAST(n1 + n2 AS DOUBLE), 0e0)))
         / nullif(sqrt(
             (2.0e0 * n1 * n2 * (2.0e0 * n1 * n2 - n1 - n2))
             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                * nullif(CAST(n1 + n2 - 1 AS DOUBLE), 0e0))
           ), 0e0) AS z_stat
FROM agg
"""


@register(
    "stats_runs_median",
    oracle=RUNS_TEST_SQL.format(us="epoch_us(ts)"),
    description="Wald-Wolfowitz MEDIAN-dichotomized runs test on daily "
    "purchase cents — the level-randomness companion of the existing "
    "up/down-sign stats_runs_test (that one reads successive-difference "
    "signs; this one reads above/below the exact median, the two "
    "classic dichotomizations catching different dependence shapes): "
    "exact-integer 2·median (equal-to-median days dropped), run count "
    "from a calendar-bounded lag window, closed-form E[R]/Var/z with "
    "nullif guards so degenerate splits emit NULL on both engines; "
    "normal quantiles out of replay scope",
)
def stats_runs_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(RUNS_TEST_SQL.format(us="unix_micros(ts)"))
