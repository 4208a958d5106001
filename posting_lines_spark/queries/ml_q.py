"""Model-evaluation metrics over engine-resident prediction sets.

The training-data pipeline this engine targets ends in models, and the
evaluation of those models is itself a large-scale data problem: AUC
over billions of scored rows, threshold sweeps for serving cutoffs,
calibration audits before a score is trusted as a probability. The
reference has no analogue (it is a geometry ETL, sql_to_line.py:205-224)
— this family extends the engine the same way the stats_* ladder does.

Shared conventions: the "model" is a deterministic score derived from
the events table (cents = round(value·100) as BIGINT — integer-exact on
both engines), the label is purchase membership. The synthetic score is
intentionally near-random (AUC ≈ 0.5, gini ≈ 0); the queries audit the
MACHINERY, whose math is exact integers until a final division.

Scale designs (100 TB):
  - AUC: one (score) aggregate with map-side combine (state bounded by
    the score domain, ≤ 49k cents values), prefix sums via the range-
    partitioned two-pass global_running_sums (no single-partition
    window — the stats_mann_whitney / stats_ks_test discipline), then a
    1-row reduce. No data-shaped shuffle beyond the first aggregate.
  - threshold sweep: same per-score aggregate, then a 9-row broadcast
    cross join — never a per-row threshold scan.
  - calibration: one 10-bin conditional aggregate; ECE folds exact
    integer numerators (|C·Σy − Σc|) so the 10-term sum is order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

_POS = "purchase"

_SCORED = (
    "SELECT CAST(round(value * 100e0) AS BIGINT) AS s, "
    f"CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END AS y "
    "FROM events"
)

_PER_S = f"""
SELECT s,
       CAST(sum(y) AS BIGINT) AS np,
       CAST(count(*) - sum(y) AS BIGINT) AS nn
FROM ({_SCORED}) scored
GROUP BY s
"""

# --- AUC-ROC via the rank-sum identity ---
# AUC = P(score_pos > score_neg) + ½·P(tie). Per distinct score s with
# (np, nn) counts and nn_below negatives strictly below, each positive
# at s contributes nn_below wins and nn ties, so
#   2·AUC·P·N = Σ_s np·(2·nn_below + nn)   — an exact BIGINT.
# One division at the end; gini = 2·AUC − 1 from the same operands.


def _auc_final_sql(src: str) -> str:
    # nullif guards: a one-class corpus has P·N = 0 — Spark's ANSI mode
    # ERRORS on double division by zero while DuckDB returns NULL, so
    # the guard is an engine-parity requirement, not just cosmetics
    # (tests/test_degenerate.py::test_ml_zero_positive_corpus_null_on_both_engines)
    pn = "nullif(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0e0)"
    return f"""
SELECT n_pos, n_neg, num2,
       CAST(num2 AS DOUBLE) / (2.0e0 * {pn}) AS auc,
       CAST(num2 AS DOUBLE) / {pn} - 1.0e0 AS gini
FROM {src}
"""


AUC_ORACLE = f"""
WITH per_s AS ({_PER_S}),
run AS (
  SELECT np, nn,
         sum(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_nn
  FROM per_s
),
agg AS (
  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         CAST(sum(nn) AS BIGINT) AS n_neg,
         CAST(sum(np * (2 * (run_nn - nn) + nn)) AS BIGINT) AS num2
  FROM run
)
{_auc_final_sql("agg")}
"""


@register(
    "ml_auc_roc",
    oracle=AUC_ORACLE,
    description="AUC-ROC via the rank-sum identity (Mann-Whitney "
    "relation): per-distinct-score class counts (map-side combine, "
    "score-domain-bounded), negatives-below prefix sums via the range-"
    "partitioned two-pass global_running_sums (no single-partition "
    "window), 2·AUC·P·N as an exact BIGINT, one final division; "
    "gini = 2·AUC − 1 from the same operands",
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_s = spark.sql(_PER_S)
    run = global_running_sums(per_s, ["s"], ["nn"])
    agg = run.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("np") * (2 * (F.col("run_nn") - F.col("nn")) + F.col("nn"))
        )
        .cast("long")
        .alias("num2"),
    )
    agg.createOrReplaceTempView("pls_auc_agg")
    return spark.sql(_auc_final_sql("pls_auc_agg"))


# --- precision/recall/F1 threshold sweep ---
# Serving-cutoff selection: for each candidate threshold t, the
# confusion counts of the rule "predict positive iff s ≥ t". Computed
# from the SAME per-score aggregate as AUC (9 thresholds × score-domain
# rows, a broadcast-sized cross join), never a second data scan per
# threshold. Counts exact; the three ratios are per-row divisions of
# identical integer operands on both engines.

_THRESHOLDS = list(range(5000, 45001, 5000))  # cents: 50.00 … 450.00


def _sweep_sql() -> str:
    thr_rows = ", ".join(f"({t})" for t in _THRESHOLDS)
    return f"""
WITH per_s AS ({_PER_S}),
thr AS (SELECT * FROM (VALUES {thr_rows}) AS t(thr)),
tot AS (
  SELECT CAST(sum(np) AS BIGINT) AS p_all, CAST(sum(nn) AS BIGINT) AS n_all
  FROM per_s
),
conf AS (
  SELECT t.thr,
         CAST(sum(CASE WHEN p.s >= t.thr THEN p.np ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN p.s >= t.thr THEN p.nn ELSE 0 END) AS BIGINT) AS fp
  FROM per_s p CROSS JOIN thr t
  GROUP BY t.thr
)
SELECT c.thr,
       c.tp, c.fp,
       tot.p_all - c.tp AS fn,
       tot.n_all - c.fp AS tn,
       CAST(c.tp AS DOUBLE) / nullif(CAST(c.tp + c.fp AS DOUBLE), 0.0e0)
         AS precision_at_t,
       CAST(c.tp AS DOUBLE) / nullif(CAST(tot.p_all AS DOUBLE), 0.0e0)
         AS recall_at_t,
       2.0e0 * CAST(c.tp AS DOUBLE)
         / nullif(CAST(c.tp + c.fp AS DOUBLE) + CAST(tot.p_all AS DOUBLE), 0.0e0)
         AS f1_at_t
FROM conf c CROSS JOIN tot
"""


@register(
    "ml_threshold_sweep",
    oracle=_sweep_sql(),
    description="precision/recall/F1 confusion sweep over 9 serving "
    "thresholds from ONE per-score aggregate (score-domain-bounded "
    "state, 9-row broadcast cross join — no per-threshold rescan); "
    "exact integer counts, ratio divisions share identical operands on "
    "both engines; F1 = 2tp/(tp+fp+P) avoids the p·r/(p+r) double chain",
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_sweep_sql())


# --- calibration reliability bins + expected calibration error ---
# Before a score is used as a probability it must be calibrated:
# p̂ = cents / C (C = 50000, the score's declared normalization
# constant), 10 equal-width reliability bins, per-bin confidence
# (mean p̂) vs accuracy (positive rate), and
#   ECE = Σ_b (n_b/N)·|acc_b − conf_b|
#       = Σ_b |C·Σy_b − Σc_b| / (C·N)
# — the numerator is an EXACT BIGINT per bin, so the 10-term sum is
# order-free and the whole metric is one final division.

_CAL_C = 50000


def _calibration_sql() -> str:
    C = _CAL_C
    return f"""
WITH scored AS ({_SCORED}),
bins AS (
  SELECT CAST(floor(CAST(s AS DOUBLE) / {C // 10}.0e0) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_bin,
         CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(s) AS BIGINT) AS sum_c
  FROM scored
  GROUP BY 1
)
SELECT bin, n_bin,
       CAST(sum_c AS DOUBLE) / (CAST(n_bin AS DOUBLE) * {C}.0e0) AS confidence,
       CAST(sum_y AS DOUBLE) / CAST(n_bin AS DOUBLE) AS accuracy,
       abs(CAST({C} * sum_y - sum_c AS DOUBLE))
         / (CAST(n_bin AS DOUBLE) * {C}.0e0) AS gap,
       CAST(sum(abs({C} * sum_y - sum_c)) OVER () AS DOUBLE)
         / ({C}.0e0 * CAST(sum(n_bin) OVER () AS DOUBLE)) AS ece
FROM bins
"""


@register(
    "ml_calibration_bins",
    oracle=_calibration_sql(),
    description="calibration reliability bins + ECE: 10 equal-width "
    "bins from one conditional aggregate (bin-bounded state), per-bin "
    "confidence vs accuracy, ECE folded from exact BIGINT numerators "
    "|C·Σy − Σc| so the cross-bin sum is order-free — one final "
    "division for the whole metric",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_calibration_sql())

# --- log loss (cross-entropy of the calibrated score) ---
# LL = −(1/N)·Σ [y·ln(p̂) + (1−y)·ln(1−p̂)] with p̂ = s/C. Every log
# argument is an INTEGER (s and C−s, clamped to [1, C−1]), so the
# deterministic integer-ln kernel (functions/dmath.py) makes each
# per-score term bit-identical across engines; ln(C) is one shared
# literal from the kernel's Python mirror. Terms are summed over the
# per-score aggregate (score-domain-bounded, ≤ 49k rows) through the
# decimal route (parity.dsum, scale 6 — per-row rounding estimate
# 49k·1e4·2.2e-16·1e6 ≈ 1e-4 ≪ 1), one final division by N.
#
# Scale: identical to ml_auc_roc's first stage — one map-side-combined
# aggregate keyed by the score, then kernel math over the bounded
# domain. No per-row log is ever evaluated.

_LL_CLAMPED = (
    f"SELECT greatest(CAST(1 AS BIGINT), least(CAST({_CAL_C - 1} AS BIGINT), s)) AS s, y "
    f"FROM ({_SCORED}) sc"
)


def _log_loss_sql() -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers, dln_int_py
    from posting_lines_spark.functions.geo import dlit
    from posting_lines_spark.queries.parity import dsum_expr

    ln_c = dlit(dln_int_py(_CAL_C))
    layers, last = dln_int_cte_layers([("s", "lp"), ("cc", "lq")], "ll0", "ll")
    return f"""
WITH per_s AS (
  SELECT s, CAST(sum(y) AS BIGINT) AS np,
         CAST(count(*) - sum(y) AS BIGINT) AS nn
  FROM ({_LL_CLAMPED}) clamped
  GROUP BY s
),
ll0 AS (SELECT s, np, nn, s AS s_arg, {_CAL_C} - s AS cc FROM per_s),
{layers},
terms AS (
  SELECT np, nn,
         (CAST(np AS DOUBLE) * ({ln_c} - lp_ln)
          + CAST(nn AS DOUBLE) * ({ln_c} - lq_ln)) AS t
  FROM {last}
)
SELECT CAST(sum(np) + sum(nn) AS BIGINT) AS n,
       CAST(sum(np) AS BIGINT) AS n_pos,
       {dsum_expr("t")} / CAST(sum(np) + sum(nn) AS DOUBLE) AS log_loss_nats
FROM terms
"""


@register(
    "ml_log_loss",
    oracle=_log_loss_sql(),
    description="log loss (cross-entropy) of the calibrated score "
    "p̂ = s/C: per-distinct-score class counts (map-side combine, "
    "score-domain-bounded), per-term lns over INTEGER arguments via the "
    "deterministic ln kernel, decimal-routed term sum, one final "
    "division — no per-row log is ever evaluated",
)
def ml_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_log_loss_sql())


# --- Brier score + skill vs the climatology baseline ---
# BS = (1/N)·Σ (p̂ − y)² = Σ (s − C·y)² / (N·C²) — the numerator is an
# exact integer per row (|s − C·y| ≤ C), summed in DECIMAL(38,0) and
# cast through VARCHAR (the parity.py final-cast rule). The reference
# forecast is climatology p̄ = P/N with BS_ref = p̄(1−p̄); the skill
# score BSS = 1 − BS/BS_ref divides ratios whose operands are identical
# exact integers on both engines.


def _brier_sql() -> str:
    C = _CAL_C
    dec = "DECIMAL(38,0)"
    ssq = f"CAST(CAST(sum(CAST((s - {C} * y) * (s - {C} * y) AS {dec})) AS STRING) AS DOUBLE)"
    return f"""
WITH scored AS ({_SCORED}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         {ssq} AS ssq
  FROM scored
)
SELECT n, n_pos,
       ssq / nullif(CAST(n AS DOUBLE) * {float(C) * C!r}e0, 0.0e0) AS brier,
       (CAST(n_pos AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0e0))
         * (1.0e0 - CAST(n_pos AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0e0))
         AS brier_ref,
       1.0e0 - (ssq / nullif(CAST(n AS DOUBLE) * {float(C) * C!r}e0, 0.0e0))
         / nullif((CAST(n_pos AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0e0))
            * (1.0e0 - CAST(n_pos AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0e0)),
            0.0e0) AS brier_skill
FROM agg
"""


@register(
    "ml_brier_score",
    oracle=_brier_sql(),
    description="Brier score + skill vs climatology: Σ(s − C·y)² is an "
    "exact per-row integer summed in DECIMAL(38,0) (order-free, cast "
    "through VARCHAR per the parity final-cast rule); BS, the p̄(1−p̄) "
    "reference, and BSS are divisions of identical exact operands — one "
    "scan, one 1-row aggregate",
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_brier_sql())

# --- cumulative gains / lift by score decile ---
# The targeting-efficiency chart: sort rows by score descending, cut
# into 10 population deciles, report the cumulative share of positives
# captured (gains) and the capture rate vs random (lift). Ties share a
# score group, so a group is assigned WHOLE to the decile of its first
# row (start index run_n − n, deterministic on both engines); a group
# spanning a boundary therefore credits its entire mass to the earlier
# decile — documented tie semantics, identical everywhere.
#
# Scale: the per-score aggregate (map-side combine, score-domain-
# bounded) feeds the range-partitioned two-pass prefix sums
# (global_running_sums — no single-partition window); the decile
# rollup and its cumulative window run on ≤ 10 rows. The decile index
# floor(10·idx/N) is a double floor whose operands are exact integers
# ≪ 2^53 — identical IEEE ops on both engines.

_LIFT_PER_S = f"""
SELECT s, CAST(sum(y) AS BIGINT) AS np, CAST(count(*) AS BIGINT) AS n,
       CAST(-s AS BIGINT) AS neg_s
FROM ({_SCORED}) scored
GROUP BY s
"""


def _lift_tail_sql(src: str) -> str:
    """CTE fragments + final SELECT (no leading WITH — callers splice it
    into their own WITH chain)."""
    return f"""
t AS (
  SELECT CAST(max(run_n) AS BIGINT) AS n_all,
         CAST(max(run_np) AS BIGINT) AS p_all
  FROM {src}
),
b AS (
  SELECT CAST(floor((10.0e0 * CAST(run_n - n AS DOUBLE))
                    / CAST((SELECT n_all FROM t) AS DOUBLE)) AS BIGINT) AS decile,
         np, n
  FROM {src}
),
d AS (
  SELECT decile, CAST(sum(np) AS BIGINT) AS pos_d, CAST(sum(n) AS BIGINT) AS rows_d
  FROM b GROUP BY decile
),
c AS (
  SELECT decile, pos_d, rows_d,
         CAST(sum(pos_d) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pos_cum,
         CAST(sum(rows_d) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rows_cum
  FROM d
)
SELECT c.decile, c.rows_d, c.pos_d, c.rows_cum, c.pos_cum,
       CAST(c.pos_cum AS DOUBLE) / nullif(CAST(t.p_all AS DOUBLE), 0.0e0)
         AS gain,
       (CAST(c.pos_cum AS DOUBLE) * CAST(t.n_all AS DOUBLE))
         / nullif(CAST(t.p_all AS DOUBLE) * CAST(c.rows_cum AS DOUBLE), 0.0e0)
         AS lift
FROM c CROSS JOIN t
"""


LIFT_ORACLE = f"""
WITH per_s AS ({_LIFT_PER_S}),
run AS (
  SELECT np, n,
         sum(np) OVER (ORDER BY neg_s ROWS UNBOUNDED PRECEDING) AS run_np,
         sum(n) OVER (ORDER BY neg_s ROWS UNBOUNDED PRECEDING) AS run_n
  FROM per_s
),
{_lift_tail_sql("run")}
"""


@register(
    "ml_lift_gains",
    oracle=LIFT_ORACLE,
    description="cumulative gains / lift by score decile: per-score "
    "aggregate (score-domain-bounded) → range-partitioned two-pass "
    "prefix sums → whole-group decile assignment by start index "
    "(deterministic tie semantics) → 10-row cumulative rollup; gains "
    "and lift are ratios of exact integer operands",
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_s = spark.sql(_LIFT_PER_S)
    run = global_running_sums(per_s, ["neg_s"], ["np", "n"])
    run.createOrReplaceTempView("pls_lift_run")
    return spark.sql("WITH " + _lift_tail_sql("pls_lift_run"))

# --- mean reciprocal rank (per-user ranking evaluation) ---
# Each user's events are a ranked retrieval list (score descending,
# event_id tiebreak — a total order, so row_number is deterministic);
# the relevant item is a purchase. MRR = mean over users of 1/rank of
# the first relevant item. Reported both over users WITH a relevant
# item (mrr_hit, the retrieval convention) and over all users counting
# misses as 0 (mrr_all). Reciprocals of small integers are exact IEEE
# divisions; the cross-user mean is decimal-routed (parity.dsum,
# scale 12 — rr ≤ 1, per-row rounding estimate ≪ 1).
#
# Scale: ONE window partitioned by user (user-bounded state, never a
# global sort) + one per-user aggregate + one 1-row reduce.

_RANKED = (
    "SELECT user_id, "
    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, "
    "row_number() OVER (PARTITION BY user_id "
    "ORDER BY CAST(round(value * 100e0) AS BIGINT) DESC, event_id) AS rnk "
    "FROM events"
)


def _mrr_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    rr = "CASE WHEN fr IS NULL THEN NULL ELSE 1.0e0 / CAST(fr AS DOUBLE) END"
    return f"""
WITH r AS ({_RANKED}),
fp AS (
  SELECT user_id, CAST(min(CASE WHEN y = 1 THEN rnk END) AS BIGINT) AS fr
  FROM r GROUP BY user_id
),
rr AS (SELECT fr, {rr} AS rr FROM fp)
SELECT CAST(count(*) AS BIGINT) AS users_total,
       CAST(count(fr) AS BIGINT) AS users_with_pos,
       {dsum_expr("rr", 12)} / CAST(count(fr) AS DOUBLE) AS mrr_hit,
       {dsum_expr("rr", 12)} / CAST(count(*) AS DOUBLE) AS mrr_all
FROM rr
"""


@register(
    "ml_mrr",
    oracle=_mrr_sql(),
    description="mean reciprocal rank of the first relevant item per "
    "user: one user-partitioned window (deterministic total order), one "
    "per-user aggregate, decimal-routed cross-user mean — reported over "
    "hit users and over all users",
)
def ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mrr_sql())


# --- NDCG@10 (graded ranking quality, fixed-point discounts) ---
# DCG@K = Σ_{r≤K} rel_r / log2(1+r). The discounts are HOST-computed
# once and embedded as fixed-point BIGINT literals round(1e12/log2(1+r)),
# so each user's DCG and ideal DCG are EXACT integer sums — no float
# summation inside the aggregate at all; NDCG is one division of exact
# operands and the cross-user mean is decimal-routed. Users with no
# relevant item are excluded (the retrieval convention; their IDCG is
# undefined). Ideal DCG uses min(K, positives) prefix-sum literals.
#
# Scale: same shape as ml_mrr — one user-partitioned window, one
# per-user aggregate, one 1-row reduce.

_NDCG_K = 10


def _ndcg_sql() -> str:
    import math

    from posting_lines_spark.queries.parity import dsum_expr

    disc = [round(1e12 / math.log2(1 + r)) for r in range(1, _NDCG_K + 1)]
    ideal = [sum(disc[:p]) for p in range(1, _NDCG_K + 1)]
    d_case = ("CASE rnk " + " ".join(f"WHEN {r + 1} THEN {d}" for r, d in enumerate(disc))
              + " ELSE 0 END")
    i_case = ("CASE least(" + str(_NDCG_K) + ", pos) "
              + " ".join(f"WHEN {p + 1} THEN {v}" for p, v in enumerate(ideal))
              + " END")
    return f"""
WITH r AS ({_RANKED}),
u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN rnk <= {_NDCG_K} AND y = 1 THEN {d_case} ELSE 0 END) AS BIGINT) AS dcg_fp,
         CAST(sum(y) AS BIGINT) AS pos
  FROM r GROUP BY user_id
),
e AS (
  SELECT CAST(dcg_fp AS DOUBLE) / CAST({i_case} AS DOUBLE) AS ndcg
  FROM u WHERE pos >= 1
)
SELECT CAST(count(*) AS BIGINT) AS users_evaluated,
       {dsum_expr("ndcg", 12)} / CAST(count(*) AS DOUBLE) AS mean_ndcg_at_{_NDCG_K}
FROM e
"""


@register(
    "ml_ndcg_at_k",
    oracle=_ndcg_sql(),
    description=f"NDCG@{_NDCG_K}: host-computed fixed-point BIGINT "
    "discount literals make per-user DCG and ideal DCG EXACT integer "
    "sums (no float summation in the aggregate); one user-partitioned "
    "window + one per-user aggregate + decimal-routed mean over users "
    "with a relevant item",
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ndcg_sql())

# --- KS separation of the score (the credit-scoring "KS statistic") ---
# KS = max over thresholds of |F_pos(s) − F_neg(s)| — how well a single
# cutoff can separate the classes; the distribution-level companion to
# AUC (both consume the same per-score aggregate). Prefix sums of both
# class counts ride ONE two-pass global_running_sums call; the per-row
# gap |run_np/P − run_nn/N| divides exact integers, so the max and its
# argmin-score tiebreak order identically on both engines.
#
# Scale: same as ml_auc_roc — one score-keyed aggregate, two-pass
# prefix sums, then a score-domain-bounded sort for the 1-row answer.


def _ks_sep_tail_sql(src: str) -> str:
    # t joins in ONCE via a 1-row broadcast cross join — scalar
    # subqueries would re-derive `src` per reference in the plan audit
    gap = (
        "abs(CAST(run_np AS DOUBLE) / nullif(CAST(t.p_all AS DOUBLE), 0.0e0)"
        " - CAST(run_nn AS DOUBLE) / nullif(CAST(t.n_all AS DOUBLE), 0.0e0))"
    )
    return f"""
t AS (
  SELECT CAST(max(run_np) AS BIGINT) AS p_all,
         CAST(max(run_nn) AS BIGINT) AS n_all
  FROM {src}
),
gaps AS (
  SELECT r.s, t.p_all, t.n_all, {gap} AS d
  FROM {src} r CROSS JOIN t
)
SELECT p_all AS n_pos, n_all AS n_neg,
       d AS ks_stat, s AS ks_at_score
FROM gaps
ORDER BY d DESC, s ASC
LIMIT 1
"""


KS_SEP_ORACLE = f"""
WITH per_s AS ({_PER_S}),
run AS (
  SELECT s,
         sum(np) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_np,
         sum(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_nn
  FROM per_s
),
{_ks_sep_tail_sql("run")}
"""


@register(
    "ml_ks_separation",
    oracle=KS_SEP_ORACLE,
    description="KS separation statistic of the score: per-score class "
    "counts (score-domain-bounded), BOTH class prefix sums through one "
    "two-pass global_running_sums call, per-row gap from exact integer "
    "operands, deterministic (gap DESC, score ASC) argmax — the single-"
    "cutoff separability companion to ml_auc_roc",
)
def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_s = spark.sql(_PER_S)
    run = global_running_sums(per_s, ["s"], ["np", "nn"])
    run.createOrReplaceTempView("pls_ks_run")
    return spark.sql("WITH " + _ks_sep_tail_sql("pls_ks_run"))

# --- confusion summary at the serving threshold (MCC & friends) ---
# ml_threshold_sweep reports precision/recall/F1 along the cutoff grid;
# this is the one-row decision summary at the declared serving
# threshold (C/2 cents): accuracy, balanced accuracy, Youden's J, and
# Matthews correlation — the metrics that stay honest under class
# imbalance. All four confusion cells are exact BIGINTs from the same
# score-domain-bounded aggregate; MCC's products are evaluated in a
# fixed DOUBLE chain (exact below 2^53 per factor — beyond ~10^7 rows
# per cell route the products through DECIMAL like stats_cohens_kappa).

_CONF_T = _CAL_C // 2


def _confusion_sql() -> str:
    d = "DOUBLE"
    tpr = f"CAST(tp AS {d}) / CAST(nullif(tp + fn, 0) AS {d})"
    tnr = f"CAST(tn AS {d}) / CAST(nullif(tn + fp, 0) AS {d})"
    mcc_num = f"CAST(tp AS {d}) * CAST(tn AS {d}) - CAST(fp AS {d}) * CAST(fn AS {d})"
    mcc_den = (
        f"sqrt(CAST(tp + fp AS {d})) * sqrt(CAST(tp + fn AS {d}))"
        f" * sqrt(CAST(tn + fp AS {d})) * sqrt(CAST(tn + fn AS {d}))"
    )
    return f"""
WITH per_s AS ({_PER_S}),
conf AS (
  SELECT CAST(sum(CASE WHEN s >= {_CONF_T} THEN np ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= {_CONF_T} THEN nn ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < {_CONF_T} THEN np ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s < {_CONF_T} THEN nn ELSE 0 END) AS BIGINT) AS tn
  FROM per_s
)
SELECT tp, fp, fn, tn,
       CAST(tp + tn AS {d}) / CAST(tp + fp + fn + tn AS {d}) AS accuracy,
       ({tpr} + {tnr}) / 2.0e0 AS balanced_accuracy,
       {tpr} + {tnr} - 1.0e0 AS youden_j,
       ({mcc_num}) / nullif({mcc_den}, 0e0) AS mcc
FROM conf
"""


@register(
    "ml_confusion_at_threshold",
    oracle=_confusion_sql(),
    description=f"one-row confusion summary at the serving threshold "
    f"({_CONF_T} cents): accuracy, balanced accuracy, Youden's J, and "
    "Matthews correlation from four exact BIGINT cells out of the "
    "score-domain-bounded aggregate; MCC denominator as a product of "
    "four sqrts (each factor exact below 2^53)",
)
def ml_confusion_at_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_confusion_sql())

# --- isotonic calibration of the reliability curve (relational PAV) ---
# ml_calibration_bins shows the raw reliability curve; serving wants the
# MONOTONE recalibration map — classically fitted with the sequential
# pool-adjacent-violators algorithm. PAV's L2 solution has the minimax
# closed form (Barlow et al. 1972):
#   iso_i = max_{j ≤ i} min_{k ≥ i} avg(y over bins j..k)
# which is FULLY RELATIONAL over the bin domain: interval averages via a
# (j ≤ m ≤ k) triple join of the 10-row bin table (≤ B³ = 1000 tuples —
# bin-bounded, independent of data volume), then a grouped min and a
# grouped max. Each interval average divides exact BIGINTs, so both
# engines compare identical doubles and the fit is bit-identical — no
# sequential pooling loop anywhere.


def _isotonic_sql() -> str:
    C = _CAL_C
    return f"""
WITH scored AS ({_SCORED}),
bins AS (
  SELECT CAST(floor(CAST(s AS DOUBLE) / {C // 10}.0e0) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_bin,
         CAST(sum(y) AS BIGINT) AS sum_y
  FROM scored
  GROUP BY 1
),
iv AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(sum(m.sum_y) AS DOUBLE) / CAST(sum(m.n_bin) AS DOUBLE) AS a
  FROM bins j
  JOIN bins k ON k.bin >= j.bin
  JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
),
mins AS (
  SELECT i.bin, iv.jb, min(iv.a) AS mn
  FROM bins i
  JOIN iv ON iv.jb <= i.bin AND iv.kb >= i.bin
  GROUP BY i.bin, iv.jb
),
fit AS (SELECT bin, max(mn) AS iso FROM mins GROUP BY bin)
SELECT b.bin, b.n_bin,
       CAST(b.sum_y AS DOUBLE) / CAST(b.n_bin AS DOUBLE) AS raw_accuracy,
       f.iso AS isotonic_accuracy
FROM bins b JOIN fit f ON f.bin = b.bin
"""


@register(
    "ml_isotonic_calibration",
    oracle=_isotonic_sql(),
    description="isotonic (PAV) recalibration of the 10-bin reliability "
    "curve via the minimax closed form max_j min_k avg(y[j..k]) — a "
    "bin-bounded triple join (≤ 1000 tuples at any data volume) instead "
    "of the sequential pooling loop; interval averages divide exact "
    "BIGINTs so the fit is bit-identical across engines",
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_isotonic_sql())


# --- precision-recall AUC (average precision) ---
# The ranking metric that matters under class imbalance (Davis & Goadrich
# 2006): AP = Σ_s (np_s / P) · precision(s) over distinct score
# thresholds s, i.e. the step-interpolated area under the PR curve
# (sklearn's average_precision convention). From the SAME per-score
# aggregate as ml_auc_roc: TP(s) = P − np_below, FP(s) = N − nn_below
# via the range-partitioned exclusive prefix sums, so each term
#   t_s = np_s · TP_s / (TP_s + FP_s)
# is ONE IEEE division of identical exact BIGINTs on both engines;
# the term sum is decimal-routed (score-domain-bounded rows) and the
# final ÷P is one more shared-text division.
#
# Scale (100 TB): one (score) aggregate with map-side combine (state ≤
# the score domain), the two-pass prefix-sum shape, a term-table bounded
# by DISTINCT scores (≤ 49k rows at any data volume), one 1-row reduce.


def _pr_auc_final_sql(src: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(sum(n_pos) AS DOUBLE)
         / nullif(CAST(sum(n_pos) + sum(n_neg) AS DOUBLE), 0.0e0)
         AS baseline_precision,
       {dsum_expr("t")} / nullif(CAST(sum(n_pos) AS DOUBLE), 0.0e0)
         AS average_precision
FROM {src}
"""


def _pr_auc_terms_sql(run_src: str) -> str:
    # run_src: (s, np, nn, run_np, run_nn) with INCLUSIVE running sums;
    # exclusive below-counts are run − self, identical on both engines.
    return f"""
  SELECT np AS n_pos, nn AS n_neg,
         CASE WHEN np = 0 THEN 0e0
              ELSE CAST(np AS DOUBLE)
                   * (CAST(tot_np - (run_np - np) AS DOUBLE)
                      / CAST((tot_np - (run_np - np))
                             + (tot_nn - (run_nn - nn)) AS DOUBLE))
         END AS t
  FROM {run_src}
"""


PR_AUC_ORACLE = f"""
WITH per_s AS ({_PER_S}),
run AS (
  SELECT s, np, nn,
         sum(np) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_np,
         sum(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_nn,
         sum(np) OVER () AS tot_np,
         sum(nn) OVER () AS tot_nn
  FROM per_s
),
terms AS (
{_pr_auc_terms_sql("run")}
)
{_pr_auc_final_sql("terms")}
"""


@register(
    "ml_pr_auc",
    oracle=PR_AUC_ORACLE,
    description="precision-recall AUC as step-interpolated average "
    "precision: per-distinct-score class counts (map-side combine), "
    "TP/FP at each threshold from range-partitioned two-pass prefix "
    "sums (no single-partition window), each term one IEEE division of "
    "exact BIGINTs, decimal-routed term sum over the score-domain-"
    "bounded table, final ÷P — the imbalance-robust companion to "
    "ml_auc_roc",
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_s = spark.sql(_PER_S)
    run = global_running_sums(per_s, ["s"], ["np", "nn"])
    tot = run.agg(
        F.sum("np").cast("long").alias("tot_np"),
        F.sum("nn").cast("long").alias("tot_nn"),
    )
    run.crossJoin(F.broadcast(tot)).createOrReplaceTempView("pls_prauc_run")
    spark.sql(
        "SELECT * FROM (" + _pr_auc_terms_sql("pls_prauc_run") + ") t"
    ).createOrReplaceTempView("pls_prauc_terms")
    return spark.sql(_pr_auc_final_sql("pls_prauc_terms"))


# --- Murphy decomposition of the Brier score ---
# BS = REL − RES + UNC (Murphy 1973): reliability (how far each
# forecast value sits from its observed frequency), resolution (how far
# the per-forecast observed frequencies spread from climatology), and
# the irreducible uncertainty p̄(1−p̄). Grouping is at DISTINCT forecast
# values (p̂ = s/C, the sharpest partition — the canonical form):
#   REL·N = Σ_s (s·n_s − C·np_s)²  / (C²·n_s)
#   RES·N = Σ_s (np_s·N − n_s·P)² / (n_s·N²)
# Each numerator is an exact DECIMAL(38,0) square (|s·n_s − C·np_s| ≤
# C·n_s ≤ 5e13 at 1e9 rows per score — 2.5e27 squared, inside 38
# digits) cast through VARCHAR to a correctly-rounded DOUBLE, then ONE
# shared-text division per row and a decimal-routed sum. The identity
# rel − res + unc == ml_brier_score's BS is test-asserted.
#
# Scale: the same single score-domain-bounded aggregate as ml_auc_roc;
# the term table never exceeds the distinct-score count.


def _brier_decomp_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    C = _CAL_C
    d38 = "DECIMAL(38,0)"

    def sq_over(numer: str, denom: str) -> str:
        return (
            f"CAST(CAST(CAST({numer} AS {d38}) * CAST({numer} AS {d38})"
            f" AS STRING) AS DOUBLE) / ({denom})"
        )

    rel_t = sq_over(
        f"s * ns - {C} * np", f"{float(C * C)!r}e0 * CAST(ns AS DOUBLE)"
    )
    res_t = sq_over(
        "np * n_all - ns * p_all",
        "CAST(ns AS DOUBLE) * CAST(n_all AS DOUBLE) * CAST(n_all AS DOUBLE)",
    )
    return f"""
WITH per_s AS ({_PER_S}),
tot AS (
  SELECT CAST(sum(np) AS BIGINT) AS p_all,
         CAST(sum(np) + sum(nn) AS BIGINT) AS n_all
  FROM per_s
),
terms AS (
  SELECT p.np, p.np + p.nn AS ns, p.s, t.p_all, t.n_all,
         {rel_t} AS rel_t,
         {res_t} AS res_t
  FROM per_s p CROSS JOIN tot t
)
SELECT max(n_all) AS n, max(p_all) AS n_pos,
       {dsum_expr("rel_t")} / nullif(CAST(max(n_all) AS DOUBLE), 0.0e0)
         AS reliability,
       {dsum_expr("res_t")} / nullif(CAST(max(n_all) AS DOUBLE), 0.0e0)
         AS resolution,
       (CAST(max(p_all) AS DOUBLE) / nullif(CAST(max(n_all) AS DOUBLE), 0.0e0))
         * (1.0e0 - CAST(max(p_all) AS DOUBLE)
            / nullif(CAST(max(n_all) AS DOUBLE), 0.0e0)) AS uncertainty
FROM terms
"""


@register(
    "ml_brier_decomposition",
    oracle=_brier_decomp_sql(),
    description="Murphy decomposition BS = REL − RES + UNC at the "
    "sharpest (distinct-forecast) partition: exact DECIMAL(38,0) "
    "squared numerators cast through VARCHAR, one shared-text division "
    "per score-domain-bounded row, decimal-routed term sums; the "
    "rel−res+unc identity against ml_brier_score is test-asserted",
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_brier_decomp_sql())


# --- DeLong variance + confidence interval for AUC ---
# ml_auc_roc gives the point estimate; serving decisions need the CI.
# DeLong et al. 1988: AUC is a two-sample U-statistic whose variance
# comes from the per-observation structural components
#   v10(pos at s) = (#neg below s + ½·#neg at s) / N
#   v01(neg at s) = (#pos above s + ½·#pos at s) / P
#   var(AUC) = S10/P + S01/N,  S10 = Var over positives of v10, etc.
# From the SAME per-score aggregate as ml_auc_roc: components are
# constant within a distinct score, so the weighted variance uses the
# grouped counts — doubled numerators (2·nn_below + nn_at) keep the
# component an exact-integer ratio; (v − AUC)² terms are a fixed
# shared-text chain over score-domain-bounded rows with decimal-routed
# sums. CI = AUC ± 1.96·SE, one literal multiplier.
#
# Scale: one score aggregate + the two-pass prefix sums + a bounded
# term table — identical cost envelope to ml_auc_roc.


def _delong_terms_sql(run_src: str) -> str:
    # run_src columns: s, np, nn, run_np, run_nn (INCLUSIVE),
    # tot_np (=P), tot_nn (=N), auc
    v10 = "(CAST(2 * (run_nn - nn) + nn AS DOUBLE) / (2.0e0 * CAST(tot_nn AS DOUBLE)))"
    v01 = (
        "(CAST(2 * (tot_np - run_np) + np AS DOUBLE)"
        " / (2.0e0 * CAST(tot_np AS DOUBLE)))"
    )
    return f"""
  SELECT np, nn, tot_np, tot_nn, auc,
         CAST(np AS DOUBLE) * ({v10} - auc) * ({v10} - auc) AS t10,
         CAST(nn AS DOUBLE) * ({v01} - auc) * ({v01} - auc) AS t01
  FROM {run_src}
"""


def _delong_final_sql(terms_src: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    p = "CAST(max(tot_np) AS DOUBLE)"
    n = "CAST(max(tot_nn) AS DOUBLE)"
    s10 = f"{dsum_expr('t10')} / nullif({p} - 1.0e0, 0e0)"
    s01 = f"{dsum_expr('t01')} / nullif({n} - 1.0e0, 0e0)"
    var = f"({s10} / nullif({p}, 0e0) + {s01} / nullif({n}, 0e0))"
    return f"""
SELECT CAST(max(tot_np) AS BIGINT) AS n_pos,
       CAST(max(tot_nn) AS BIGINT) AS n_neg,
       max(auc) AS auc,
       sqrt({var}) AS se_delong,
       max(auc) - 1.96e0 * sqrt({var}) AS ci_lo,
       max(auc) + 1.96e0 * sqrt({var}) AS ci_hi
FROM ({terms_src}) terms
"""


DELONG_ORACLE = f"""
WITH per_s AS ({_PER_S}),
run0 AS (
  SELECT s, np, nn,
         sum(np) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_np,
         sum(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS run_nn,
         sum(np) OVER () AS tot_np,
         sum(nn) OVER () AS tot_nn
  FROM per_s
),
aucv AS (
  SELECT CAST(sum(np * (2 * (run_nn - nn) + nn)) AS DOUBLE)
           / (2.0e0 * CAST(max(tot_np) AS DOUBLE) * CAST(max(tot_nn) AS DOUBLE))
           AS auc
  FROM run0
),
run AS (SELECT r.*, a.auc FROM run0 r CROSS JOIN aucv a)
{_delong_final_sql(_delong_terms_sql("run"))}
"""


@register(
    "ml_auc_delong_ci",
    oracle=DELONG_ORACLE,
    description="DeLong variance + 95% CI for AUC from the per-"
    "observation structural components (v10/v01 constant within each "
    "distinct score → grouped counts): doubled-integer component "
    "numerators, fixed shared-text (v − AUC)² chain, decimal-routed "
    "weighted variances over the score-domain-bounded table — the "
    "same cost envelope as ml_auc_roc with an honest error bar",
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_running_sums

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    per_s = spark.sql(_PER_S)
    run0 = global_running_sums(per_s, ["s"], ["np", "nn"])
    tot = run0.agg(
        F.sum("np").cast("long").alias("tot_np"),
        F.sum("nn").cast("long").alias("tot_nn"),
    )
    run0 = run0.crossJoin(F.broadcast(tot))
    auc = run0.agg(
        (
            F.sum(F.col("np") * (2 * (F.col("run_nn") - F.col("nn")) + F.col("nn")))
            .cast("double")
            / (
                F.lit(2.0)
                * F.max("tot_np").cast("double")
                * F.max("tot_nn").cast("double")
            )
        ).alias("auc")
    )
    run0.crossJoin(F.broadcast(auc)).createOrReplaceTempView("pls_delong_run")
    return spark.sql(_delong_final_sql(_delong_terms_sql("pls_delong_run")))


# --- MAP@K (mean average precision for ranked retrieval) ---
# Completes the ranking-evaluation triple (ml_mrr: first hit; ml_ndcg:
# graded discounts; MAP: ALL hits with precision-at-hit weighting):
# AP@K(u) = Σ_{hits r ≤ K} Precision@r / min(K, n_pos(u)), where
# n_pos(u) counts the user's positives over the FULL ranked list (the
# standard TREC convention — a user whose only relevant items sit
# outside the top-K scores AP=0, it does not vanish from the mean),
# averaged over users with ≥1 positive anywhere. Precision@r at a hit
# = (hits so far)/r — a ratio of small exact integers from one
# cumulative window over the user's top-K rows; the per-user AP sum is
# ≤ K terms, and the cross-user mean is decimal-routed.
#
# Scale: identical envelope to ml_mrr/ml_ndcg — one user-partitioned
# ranking window, one K-bounded per-user pass, one 1-row reduce.
# The outer cross-user mean routes at scale 9, not 12: ap values are
# already quotients of a scale-12 decimal sum (full-entropy doubles),
# and the NESTED double→DECIMAL cast at scale 12 measurably lands on
# a 0.5-ulp rounding boundary (one user out of 130 flipped at sf0.01
# — the parity.py per-row hazard realized); scale 9 leaves 3 digits
# of margin while the mean itself only needs ~1e-9.

MAP_K = 10


def _map_sql() -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
WITH r AS ({_RANKED}),
np AS (
  SELECT user_id, CAST(sum(y) AS BIGINT) AS n_pos
  FROM r GROUP BY user_id
),
topk AS (
  SELECT user_id, y, rnk,
         CAST(sum(y) OVER (PARTITION BY user_id ORDER BY rnk
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits
  FROM r WHERE rnk <= {MAP_K}
),
terms AS (
  SELECT t.user_id,
         CASE WHEN t.y = 1
              THEN CAST(t.hits AS DOUBLE) / CAST(t.rnk AS DOUBLE)
              ELSE 0e0 END AS p_at_hit
  FROM topk t
),
sums AS (
  SELECT user_id, {dsum_expr("p_at_hit", 12)} AS ap_num
  FROM terms GROUP BY user_id
),
ap AS (
  SELECT n.user_id,
         COALESCE(s.ap_num, 0e0)
           / CAST(LEAST(n.n_pos, {MAP_K}) AS DOUBLE) AS ap
  FROM np n LEFT JOIN sums s ON s.user_id = n.user_id
  WHERE n.n_pos > 0
)
SELECT CAST(count(*) AS BIGINT) AS users_with_pos,
       {dsum_expr("ap", 9)} / CAST(count(*) AS DOUBLE) AS map_at_k
FROM ap
"""


@register(
    "ml_map_at_k",
    oracle=_map_sql(),
    description=f"MAP@{MAP_K} (mean average precision): precision-at-"
    "hit ratios of exact integers from one user-partitioned cumulative "
    "window over the top-K rows, per-user AP normalized by min(K, "
    "total positives over the FULL ranked list — standard TREC "
    "convention, zero-hit users score 0), decimal-routed cross-user "
    "mean — completes the mrr/ndcg ranking-evaluation triple",
)
def ml_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_map_sql())


# --- group fairness audit (wave 20) ---
# Before a score ships, the fairness questions are asked PER GROUP:
# does the model select group members at similar rates (demographic
# parity / the 80% rule), and does it err at similar rates given the
# truth (equalized odds: TPR/FPR gaps)? The protected attribute here
# is a synthetic cohort (user_id % 4 — the corpus has no demographics;
# the metric plumbing is the product, the attribute is a stand-in and
# says so), score/label are the ml-family conventions (cents vs
# purchase), decision threshold fixed at τ = {FAIR_TAU} cents.
# Emits one row per group: base rate, predicted-positive rate, TPR,
# FPR, the parity ratio ppr/max(ppr) (0.8-rule readout), and
# equalized-odds gaps vs the best group. Counts are exact integers;
# every rate is one double division; the cross-group normalizers are
# 4-row window maxima — all engine-identical.
#
# Scale: one group aggregate with map-side combine (state = 4 groups ×
# 5 counters), a 4-row window, an ordered 4-row emit.

FAIR_TAU = 10_000
FAIR_GROUPS = 4

_FAIR_SQL = f"""
WITH scored AS (
  SELECT user_id % {FAIR_GROUPS} AS grp,
         CAST(round(value * 100e0) AS BIGINT) AS s,
         CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END AS y
  FROM events
),
per_g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN s >= {FAIR_TAU} THEN 1 ELSE 0 END) AS BIGINT)
           AS pred_pos,
         CAST(sum(CASE WHEN s >= {FAIR_TAU} AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= {FAIR_TAU} AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp
  FROM scored GROUP BY grp
),
rates AS (
  SELECT grp, n, n_pos, pred_pos,
         CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS prevalence,
         CAST(pred_pos AS DOUBLE) / CAST(n AS DOUBLE) AS ppr,
         CAST(tp AS DOUBLE) / nullif(CAST(n_pos AS DOUBLE), 0e0) AS tpr,
         CAST(fp AS DOUBLE) / nullif(CAST(n - n_pos AS DOUBLE), 0e0) AS fpr
  FROM per_g
)
SELECT grp, n, n_pos, pred_pos, prevalence, ppr, tpr, fpr,
       ppr / nullif(max(ppr) OVER (), 0e0) AS dp_ratio,
       max(tpr) OVER () - tpr AS eo_tpr_gap,
       fpr - min(fpr) OVER () AS eo_fpr_gap
FROM rates
"""


@register(
    "ml_fairness_parity",
    oracle=_FAIR_SQL,
    description=f"group fairness audit at τ = {FAIR_TAU} cents over "
    f"{FAIR_GROUPS} synthetic cohorts (user_id mod {FAIR_GROUPS} — a "
    "documented stand-in, the corpus has no demographics): per-group "
    "base rate, predicted-positive rate, TPR/FPR, demographic-parity "
    "ratio ppr/max(ppr) (the 80% rule) and equalized-odds gaps vs the "
    "best group; exact integer counts, one aggregate + a 4-row window",
)
def ml_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_FAIR_SQL)


# --- Harrell's C-index for survival risk scores (wave 22) ---
# events_survival_km describes WHEN users convert; the C-index grades
# a RISK SCORE against those outcomes under right-censoring — the
# standard discrimination metric for churn/conversion models (Harrell
# 1982): among comparable pairs, how often does the higher-score user
# convert first? Comparable pairs are (a,b) with t_a < t_b and a an
# observed event (any b), plus t_a = t_b with a an event and b
# censored; concordant when s_a > s_b, score ties count ½. The (t, δ)
# setup is events_survival_km's (signup → first purchase, censored at
# last observed day); the score is the user's click count after
# signup — a deliberately crude covariate (the METRIC is the product).
#
# Never a user-pair join: users collapse to the bounded
# (t ≤ calendar days) × (s ≤ max clicks/user) grid with event/censored
# counts, and every pair class is a 2-D dominance sum — a per-score
# suffix window over t (users converting later at score s), then
# per-t prefix/suffix windows over s (the JT-query discipline).
# Pair-count products ride wide integers (n_ev·counts ≤ N² wraps
# int64 past N ≈ 4.3e9 users); one double division at the end.
#
# Scale: one user aggregate, a grid aggregate with map-side combine,
# three window passes over the bounded grid, a 1-row finish.


def _cindex_sql(us: str, w19: str) -> str:
    def s2d(x: str) -> str:
        return f"CAST(CAST({x} AS STRING) AS DOUBLE)"

    day = f"CAST(floor({us} / 86400000000.0e0) AS BIGINT)"
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
clicks AS (
  SELECT e.user_id, CAST(count(*) AS BIGINT) AS s
  FROM ev e JOIN per_user u ON u.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.day >= u.s_day
  GROUP BY e.user_id
),
obs AS (
  SELECT u.user_id,
         CASE WHEN p.p_day IS NOT NULL THEN p.p_day - u.s_day
              ELSE u.last_day - u.s_day END AS t,
         CASE WHEN p.p_day IS NOT NULL THEN 1 ELSE 0 END AS ev_flag,
         coalesce(c.s, 0) AS s
  FROM per_user u
  LEFT JOIN purch p ON p.user_id = u.user_id
  LEFT JOIN clicks c ON c.user_id = u.user_id
  WHERE u.s_day IS NOT NULL
),
cells AS (
  SELECT t, s,
         CAST(sum(ev_flag) AS BIGINT) AS n_ev,
         CAST(count(*) - sum(ev_flag) AS BIGINT) AS n_cens,
         CAST(count(*) AS BIGINT) AS n_all
  FROM obs GROUP BY t, s
),
ts AS (SELECT DISTINCT t FROM cells),
ss AS (SELECT DISTINCT s FROM cells),
dense AS (
  SELECT ts.t, ss.s,
         CAST(coalesce(c.n_ev, 0) AS BIGINT) AS n_ev,
         CAST(coalesce(c.n_cens, 0) AS BIGINT) AS n_cens,
         CAST(coalesce(c.n_all, 0) AS BIGINT) AS n_all
  FROM ts CROSS JOIN ss
  LEFT JOIN cells c ON c.t = ts.t AND c.s = ss.s
),
later AS (
  SELECT t, s, n_ev, n_cens,
         CAST(coalesce(sum(n_all) OVER (PARTITION BY s ORDER BY t
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS BIGINT) AS lat
  FROM dense
),
doms AS (
  SELECT t, s, n_ev, n_cens, lat,
         CAST(coalesce(sum(lat) OVER (PARTITION BY t ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS lat_below,
         CAST(coalesce(sum(lat) OVER (PARTITION BY t ORDER BY s
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS BIGINT) AS lat_above,
         CAST(coalesce(sum(n_cens) OVER (PARTITION BY t ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cens_below,
         CAST(coalesce(sum(n_cens) OVER (PARTITION BY t ORDER BY s
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS BIGINT) AS cens_above
  FROM later
),
sums AS (
  SELECT
    CAST(sum(CAST(n_ev AS {w19}) * (lat_below + cens_below)) AS {w19})
      AS conc,
    CAST(sum(CAST(n_ev AS {w19}) * (lat_above + cens_above)) AS {w19})
      AS disc,
    CAST(sum(CAST(n_ev AS {w19}) * (lat + n_cens)) AS {w19}) AS ties
  FROM doms
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(ev_flag) AS BIGINT) AS n_events
  FROM obs
)
SELECT t.n_users, t.n_events,
       {s2d("s.conc")} AS conc,
       {s2d("s.disc")} AS disc,
       {s2d("s.ties")} AS ties_score,
       ({s2d("s.conc")} + 0.5e0 * {s2d("s.ties")})
         / nullif({s2d("s.conc")} + {s2d("s.disc")} + {s2d("s.ties")}, 0e0)
         AS c_index
FROM sums s CROSS JOIN tot t
"""


@register(
    "ml_survival_cindex",
    oracle=_cindex_sql("epoch_us(ts)", "HUGEINT"),
    description="Harrell's C-index of a click-count risk score against "
    "signup→purchase survival with right-censoring (the "
    "events_survival_km setup): comparable pairs, score ties at ½, "
    "computed as 2-D dominance sums over the bounded (days × score) "
    "grid — per-score suffix windows over t, per-t prefix/suffix "
    "windows over s, NEVER a user-pair join; wide-integer pair "
    "products, one double division — the discrimination metric for "
    "churn models at any N",
)
def ml_survival_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cindex_sql("unix_micros(ts)", "DECIMAL(38,0)"))
