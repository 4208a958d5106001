"""Scalar-function surface: string / date / JSON functions (SURVEY.md §2.7
tail — "declared as engine surface in §7, zero custom code").

All built-ins on both engines; the only cross-engine care is naming
(get_json_object ↔ json_extract_string, size(split) ↔ len(string_split))
and date_trunc return types (Spark returns TIMESTAMP, DuckDB returns
DATE → both sides cast explicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.queries.parity import davg_expr
from posting_lines_spark.sources import load_table

STRING_ORACLE = """
SELECT doc_id,
       lang,
       upper(lang) AS lang_upper,
       length(text) AS text_len,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       split_part(text, ' ', 1) AS first_token,
       substr(text, 1, 16) AS prefix,
       CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS mentions_spark
FROM documents
WHERE lang = 'en'
"""


@register(
    "string_funcs",
    oracle=STRING_ORACLE,
    description="string functions: upper/length/split/substr/like over "
    "documents (engine surface §2.7)",
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return (
        d.filter(F.col("lang") == "en")
        .select(
            "doc_id",
            "lang",
            F.upper("lang").alias("lang_upper"),
            F.length("text").cast("long").alias("text_len"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
            F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_token"),
            F.substring("text", 1, 16).alias("prefix"),
            F.when(F.col("text").like("%spark%"), 1).otherwise(0).alias("mentions_spark"),
        )
    )


DATE_ORACLE = f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       count(*) AS n_events,
       {davg_expr('value')} AS avg_value,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1, 2
"""


@register(
    "date_funcs",
    oracle=DATE_ORACLE,
    description="date/time functions: date_trunc + timestamp range predicate "
    "pushed to the scan (engine surface §2.7, O10/O13 generalized)",
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(davg_expr("value")).alias("avg_value"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


JSON_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY 1
"""


@register(
    "json_funcs",
    oracle=JSON_ORACLE,
    description="JSON extraction from string column (events.props): "
    "get_json_object ↔ json_extract_string (engine surface §2.7)",
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy((k % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )
