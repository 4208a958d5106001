"""Array-function surface + approximate aggregates.

`array_funcs` serializes its sorted-distinct array to a '|'-joined string
so the driver's pandas canonicalizer can hash it (lists are unhashable
there); the DuckDB twin serializes identically, so the check stays exact.

`approx_stats` makes sketch output oracle-checkable without pretending
HLL/KLL implementations match across engines: it returns the EXACT
counts plus bound-check booleans (|approx − exact| ≤ 3·rsd·exact, and
approx-median ∈ [p49, p51] — approx_percentile's rank error at accuracy
10000 is ±n/10000 rows, well inside that percentile window). Spark's
sketches are deterministic for fixed input, so the booleans are stable;
the oracle computes the same exact counts and literal TRUEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

ARRAY_ORACLE = """
SELECT source,
       array_to_string(list_sort(list(DISTINCT split_part(text, ' ', 1))), '|')
         AS first_tokens,
       len(list(DISTINCT split_part(text, ' ', 1))) AS n_distinct_first
FROM documents
GROUP BY source
"""


@register(
    "array_funcs",
    oracle=ARRAY_ORACLE,
    description="array functions: collect_set + sort_array per group, "
    "serialized with array_join for driver-hashability (engine surface §2.7 tail)",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    first = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    return (
        d.groupBy("source")
        .agg(
            F.array_join(F.sort_array(F.collect_set(first)), "|").alias("first_tokens"),
            F.size(F.collect_set(first)).cast("long").alias("n_distinct_first"),
        )
    )


MAP_ORACLE = """
WITH lc AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_langs,
       string_agg(lang || ':' || CAST(n AS VARCHAR), '|' ORDER BY lang) AS lang_counts
FROM lc GROUP BY source
"""

MAP_SPARK = """
WITH lc AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
m AS (
  SELECT source,
         map_from_entries(array_sort(collect_list(struct(lang, n)))) AS lang_map
  FROM lc GROUP BY source
)
SELECT source,
       CAST(size(lang_map) AS BIGINT) AS n_langs,
       array_join(transform(map_keys(lang_map),
                            k -> concat(k, ':', CAST(element_at(lang_map, k) AS STRING))),
                  '|') AS lang_counts
FROM m
"""


@register(
    "map_funcs",
    oracle=MAP_ORACLE,
    description="map functions: map_from_entries / map_keys / element_at / "
    "size over per-source language histograms, serialized sorted for "
    "driver-hashability (the oracle computes identical values via plain "
    "string_agg — map *semantics* are engine-specific, the values aren't)",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(MAP_SPARK)


APPROX_ORACLE = """
SELECT count(*) AS n_rows,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS parts_ok, TRUE AS orders_ok, TRUE AS median_ok
FROM lineitem
"""


@register(
    "approx_stats",
    oracle=APPROX_ORACLE,
    description="approximate aggregates: approx_count_distinct (HLL++) and "
    "approx_percentile — the constant-memory path for 100 TB cardinality/"
    "quantile estimation; oracle-checked via exact counts + accuracy-bound "
    "booleans (sketches are engine-specific, the bounds are not)",
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # sketches + percentiles in ONE distinct-free pass; the two exact
    # distinct counts run as separate single-distinct aggregates and
    # cross-join back as 1-row scalars — avoids the multi-distinct
    # Expand (3× input duplication) a single agg would plan
    a = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # rsd 0.02: half the HLL registers of 0.01 (~4× cheaper sketch
        # merges, measured) with the 3σ bound widened to match
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
        F.expr("approx_percentile(l_extendedprice, 0.5e0, 10000)").alias("am"),
        F.expr("percentile(l_extendedprice, 0.49e0)").alias("p49"),
        F.expr("percentile(l_extendedprice, 0.51e0)").alias("p51"),
    )
    ep = li.agg(F.countDistinct("l_partkey").cast("long").alias("exact_parts"))
    eo = li.agg(F.countDistinct("l_orderkey").cast("long").alias("exact_orders"))
    a = a.crossJoin(ep).crossJoin(eo)
    three_sigma = 3 * 0.02
    return a.select(
        "n_rows",
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("ap").cast("double") - F.col("exact_parts"))
            <= three_sigma * F.col("exact_parts")
        ).alias("parts_ok"),
        (
            F.abs(F.col("ao").cast("double") - F.col("exact_orders"))
            <= three_sigma * F.col("exact_orders")
        ).alias("orders_ok"),
        F.col("am").cast("double").between(F.col("p49"), F.col("p51")).alias("median_ok"),
    )
