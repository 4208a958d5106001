"""Pandas-path queries: grouped-map applyInPandas and the custom stateful
streaming operator — the two Python-UDF surfaces the engine reserves for
semantics built-ins can't express (SURVEY.md §2.9).

Parity notes: gap math is int64 microseconds (exact); the median of an
even count is the mean of two int64s — exactly representable, and
pandas' (a+b)/2 equals quantile_cont's a+(b-a)*0.5 bit-for-bit on exact
inputs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table
from posting_lines_spark.streaming.harness import Dir

GAP_STATS_ORACLE = """
SELECT user_id,
       count(*) AS n_gaps,
       quantile_cont(gap_us, 0.5) AS median_gap_us,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us
FROM (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


def _gap_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts_us", "event_id"])
    gaps = pdf["ts_us"].diff().dropna().astype("int64")
    if gaps.empty:
        return pd.DataFrame(
            columns=["user_id", "n_gaps", "median_gap_us", "min_gap_us", "max_gap_us"]
        )
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_gaps": [len(gaps)],
            "median_gap_us": [float(gaps.median())],
            "min_gap_us": [int(gaps.min())],
            "max_gap_us": [int(gaps.max())],
        }
    )


@register(
    "pandas_gap_stats",
    oracle=GAP_STATS_ORACLE,
    description="grouped-map applyInPandas (Arrow batch per group): "
    "inter-arrival gap stats per user; int64-µs math keeps pandas ≡ SQL "
    "(SURVEY.md §2.9 — the sanctioned Python surface)",
)
def pandas_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    out = e.groupBy("user_id").applyInPandas(
        _gap_stats,
        schema="user_id long, n_gaps long, median_gap_us double, min_gap_us long, max_gap_us long",
    )
    return out


STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events
GROUP BY user_id
"""


@register(
    "stream_stateful_stats",
    oracle=STATEFUL_ORACLE,
    description="custom stateful streaming operator (applyInPandasWithState, "
    "per-user state carried across real micro-batches via "
    "maxFilesPerTrigger=1); final state ≡ the batch aggregate",
)
def stream_stateful_stats(
    spark: SparkSession, sf_dir: str, *, src: Dir = None, ckpt: Dir = None, out: Dir = None
) -> DataFrame:
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import _event_slices_src
    from posting_lines_spark.streaming.stateful import running_user_stats

    return running_user_stats(
        spark,
        src or _event_slices_src(spark, sf_dir),
        ckpt or scratch_dir("pls_stats_ckpt_"),
        out or scratch_dir("pls_stats_out_"),
    )


# --- scalar Arrow pandas_udf on a parity path ---
# The third Python surface (§2.9): a VECTORIZED scalar UDF
# (ArrowEvalPython, never BatchEvalPython). The score is pure
# element-wise IEEE double arithmetic — numpy evaluates the identical
# operation tree DuckDB does, so even the Python path is hash-exact.
# The feature columns (token/char counts) are computed JVM-side; only
# the final arithmetic crosses the Arrow boundary, batch-at-a-time.

SCALAR_SCORE_ORACLE = """
SELECT doc_id,
       (2.0e0 * (ntok / (ntok + 100.0e0)) * (nch / (nch + 1000.0e0)))
       / ((ntok / (ntok + 100.0e0)) + (nch / (nch + 1000.0e0))) AS blend_score
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
         CAST(n_chars AS DOUBLE) AS nch
  FROM documents
)
"""


@register(
    "pandas_scalar_score",
    oracle=SCALAR_SCORE_ORACLE,
    description="scalar Arrow pandas_udf (§2.9 third surface): harmonic "
    "blend of saturating token/char features — vectorized ArrowEvalPython, "
    "hash-exact vs the oracle because numpy replays the identical IEEE "
    "operation tree; features computed JVM-side so only final arithmetic "
    "crosses the Arrow boundary",
)
def pandas_scalar_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def blend(ntok: pd.Series, nch: pd.Series) -> pd.Series:
        a = ntok / (ntok + 100.0)
        b = nch / (nch + 1000.0)
        return (2.0 * a * b) / (a + b)

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("ntok"),
        F.col("n_chars").cast("double").alias("nch"),
    )
    return feats.select(
        "doc_id", blend("ntok", "nch").alias("blend_score")
    )
