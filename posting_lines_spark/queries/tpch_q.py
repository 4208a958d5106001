"""The hard TPC-H shapes: correlated subqueries, multi-EXISTS, double
aggregation with HAVING semi-joins, disjunctive join predicates.

The reference engine (SURVEY.md §2) only ever issues equality predicates
and one update-join; these queries exercise the decorrelation and
join-planning surface a warehouse engine needs beyond that. Columns the
driver's trimmed TPC-H schema lacks (l_commitdate/l_receiptdate, c_phone,
p_container) are substituted with available columns that preserve each
query's PLAN SHAPE — the correlation structure, not the business filter,
is what's under test. Adaptations are noted per query.

Scale notes: every correlated subquery here decorrelates to a join
Catalyst plans with the fact table shuffling at most once per aggregate;
EXISTS/NOT EXISTS become left-semi/left-anti joins on the correlation
key (no per-row subquery execution); the Q18 HAVING filter is a
semi-join against a pre-aggregated key set (tiny build side at any SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.queries import register
from posting_lines_spark.queries.parity import davg_expr, dsum_expr
from posting_lines_spark.sources import load_table, register_views


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- TPC-H Q10 (returned item reporting): 4-table join + top-k ---

Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       {dsum_expr("l_extendedprice * (1.0e0 - l_discount)")} AS revenue,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "q10_returned_items",
    oracle=Q10_ORACLE,
    description="TPC-H Q10 shape: quarter + returnflag filters pushed to "
    "both fact scans, 4-table star (nation broadcast), revenue per "
    "customer, top-20 via TakeOrderedAndProject",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(dsum_expr("l_extendedprice * (1.0e0 - l_discount)")).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q15 (top supplier): aggregate CTE + scalar-max self reference ---
# The revenue CTE is aggregated ONCE and referenced twice (rows + its
# max); the scalar max broadcasts back as a filter. Revenue goes through
# the decimal-routed sum so the max-equality comparison is bit-identical
# across engines (a plain double sum could make the argmax differ).

Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {dsum_expr("l_extendedprice * (1.0e0 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register(
    "q15_top_supplier",
    oracle=Q15_SQL,
    description="TPC-H Q15 shape: revenue CTE aggregated once, referenced "
    "as rows AND as a scalar max (argmax-by-filter); decimal-routed sum "
    "makes the equality comparison engine-stable; supplier side broadcast",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "supplier"])
    return spark.sql(Q15_SQL)


# --- TPC-H Q17 (small-quantity-order revenue): correlated scalar AVG ---
# (p_container filter replaced by the brand filter alone — the schema has
# no container column; correlation structure identical.)

Q17_SQL = f"""
SELECT {dsum_expr("l_extendedprice")} / 7.0e0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 2.0e-1 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


@register(
    "q17_small_qty_revenue",
    oracle=Q17_SQL,
    description="TPC-H Q17 shape: correlated scalar AVG subquery — "
    "Catalyst decorrelates to a per-partkey aggregate joined back on the "
    "correlation key (one extra lineitem aggregate, NO per-row subquery); "
    "quantities are exact small ints so the avg threshold is engine-stable",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(Q17_SQL)


# --- TPC-H Q18 (large-volume customers): HAVING key-set semi-join ---

Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice,
       {dsum_expr("l_quantity")} AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0e0
  )
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d'),
         o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register(
    "q18_large_volume",
    oracle=Q18_ORACLE,
    description="TPC-H Q18 shape: HAVING-filtered key set (per-order "
    "quantity sums, integer-valued so exact in double) semi-joined back "
    "into the 3-table star — the aggregate-then-filter-parent pattern; "
    "deterministic top-100 (orderkey tiebreak)",
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qsum"))
        .filter(F.col("qsum") > 250.0)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.expr(dsum_expr("l_quantity")).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --- TPC-H Q19 (discounted revenue): disjunctive join predicate ---
# The OR-of-conjunctions shape: Catalyst must extract the common
# p_partkey = l_partkey equi-condition so the join stays a hash join
# with a disjunctive residual — NOT a cartesian product. (p_container /
# l_shipmode legs replaced with p_size / l_quantity ranges; same
# predicate structure.)

Q19_SQL = f"""
SELECT {dsum_expr("l_extendedprice * (1.0e0 - l_discount)")} AS revenue
FROM lineitem, part
WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
       AND l_quantity >= 1.0e0 AND l_quantity <= 11.0e0
       AND p_size BETWEEN 1 AND 15)
   OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
       AND l_quantity >= 10.0e0 AND l_quantity <= 20.0e0
       AND p_size BETWEEN 1 AND 25)
   OR (p_partkey = l_partkey AND p_brand = 'Brand#7'
       AND l_quantity >= 20.0e0 AND l_quantity <= 30.0e0
       AND p_size BETWEEN 1 AND 35)
"""


@register(
    "q19_disjunctive_join",
    oracle=Q19_SQL,
    description="TPC-H Q19 shape: OR-of-conjunctions join predicate — the "
    "planner must extract the common partkey equi-condition (hash join + "
    "disjunctive residual, never a cartesian); plan-asserted in "
    "tests/test_plans.py",
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(Q19_SQL)


# --- TPC-H Q21 (waiting supplier): EXISTS + NOT EXISTS double correlation ---
# Adapted (no l_commitdate/l_receiptdate in the schema): the "late" line
# condition becomes l_returnflag = 'R'. Structure preserved exactly:
# suppliers whose returned line is the ONLY returned line on a
# multi-supplier finished order — one EXISTS (another supplier touched
# the order) and one NOT EXISTS (no OTHER supplier's line was returned),
# both correlated on (orderkey, suppkey-inequality).

Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_3'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@register(
    "q21_waiting_supplier",
    oracle=Q21_SQL,
    description="TPC-H Q21 shape (returnflag substituted for the absent "
    "commit/receipt dates): EXISTS + NOT EXISTS both correlated on the "
    "order with a supplier-inequality — decorrelates to a left-semi and "
    "a left-anti join on l_orderkey with non-equi residuals; no per-row "
    "subquery execution at any scale",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders", "nation"])
    return spark.sql(Q21_SQL)


# --- TPC-H Q22 (global sales opportunity): anti-join + global scalar AVG ---
# Adapted (no c_phone): the country-code substring membership becomes a
# market-segment membership, and "never ordered" (which eliminates every
# customer at this data's 10-orders-per-customer density) becomes "never
# placed an URGENT order". Structure preserved: IN-list filter, scalar
# AVG subquery over a filtered copy of the same table, NOT EXISTS
# anti-join, final aggregate. The avg threshold goes through the
# decimal-routed mean so the > comparison is engine-stable.

Q22_SQL = f"""
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS numcust,
       {dsum_expr("c_acctbal")} AS totacctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
  AND c_acctbal > (
    SELECT {davg_expr("c_acctbal")} FROM customer
    WHERE c_acctbal > 0.0e0
      AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
"""


@register(
    "q22_sales_opportunity",
    oracle=Q22_SQL,
    description="TPC-H Q22 shape (segment membership for the absent phone "
    "prefix; URGENT-order anti-condition for the degenerate never-ordered "
    "one): uncorrelated scalar AVG broadcast as a filter + NOT EXISTS "
    "anti-join against orders + final aggregate; decimal-routed mean "
    "keeps the balance threshold bit-identical across engines",
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(Q22_SQL)


# ============================================================================
# Round-4 continuation: the remaining 11 TPC-H shapes (full 22-query suite).
# The driver schema has no partsupp / l_shipmode / l_commitdate /
# l_receiptdate / c_phone / p_mfgr / p_container — each absent column is
# substituted with an available one that preserves the query's PLAN SHAPE
# (correlation structure, join graph, aggregate nesting), noted per query.
# The partsupp role (part × supplier cost/stock relation) is played by
# the (l_partkey, l_suppkey) grain of lineitem wherever needed.
# ============================================================================


# --- TPC-H Q2 (minimum-cost supplier): correlated scalar MIN over the
# same relation, 4-dim snowflake (supplier→nation→region). ps_supplycost
# becomes the per-(part, supplier) minimum unit price observed in
# lineitem — the cost relation is a named CTE referenced both as rows and
# inside the correlated MIN, exactly Q2's double-reference shape. MIN over
# doubles is order-independent, and the equality compares two bit-identical
# per-row divisions, so the argmin is engine-stable with no decimal routing.

Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM part, supplier, cost, nation, region
WHERE p_partkey = l_partkey
  AND s_suppkey = l_suppkey
  AND p_size <= 15
  AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND unit_cost = (
    SELECT min(unit_cost) FROM cost c2, supplier s2, nation n2, region r2
    WHERE c2.l_partkey = p_partkey
      AND s2.s_suppkey = c2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register(
    "q2_min_cost_supplier",
    oracle=Q2_SQL,
    description="TPC-H Q2 shape (lineitem (partkey,suppkey) grain plays "
    "partsupp): cost CTE referenced as rows AND inside a correlated scalar "
    "MIN filtered through the same snowflake — Catalyst decorrelates to a "
    "per-partkey aggregate joined back; dims broadcast; argmin "
    "engine-stable because MIN is order-independent",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["part", "supplier", "lineitem", "nation", "region"])
    return spark.sql(Q2_SQL)


# --- TPC-H Q4 (order priority checking): EXISTS semi-join + count ---
# ("late line" l_commitdate < l_receiptdate becomes l_returnflag = 'R';
# same one-sided EXISTS correlated on the order key.)

Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


@register(
    "q4_order_priority",
    oracle=Q4_SQL,
    description="TPC-H Q4 shape (returnflag for the absent commit/receipt "
    "dates): EXISTS decorrelates to a left-semi join on o_orderkey — the "
    "quarter filter is pushed to the orders scan BEFORE the semi-join "
    "probe, so the build side is the filtered order-key set",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(Q4_SQL)


# --- TPC-H Q6 (forecasting revenue change): pure scan-side filters ---
# The canonical predicate-pushdown probe: every filter reaches the
# parquet scan; the plan is scan → partial agg → final agg, zero joins.

Q6_SQL = f"""
SELECT {dsum_expr("l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
  AND l_quantity < 24.0e0
"""


@register(
    "q6_forecast_revenue",
    oracle=Q6_SQL,
    description="TPC-H Q6: all four predicates pushed to the parquet scan "
    "(PushedFilters plan-asserted), scan → partial/final agg, no shuffle "
    "of row data — the minimal full-scan aggregate at any scale",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(Q6_SQL)


# --- TPC-H Q7 (volume shipping): dual-nation join with a disjunctive
# nation-pair predicate, group by (supp_nation, cust_nation, year). The
# nation table joins TWICE (supplier side + customer side) and the
# OR-of-pairs predicate lands as a residual on broadcast joins.

Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_expr("volume")} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1.0e0 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey
    AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "q7_volume_shipping",
    oracle=Q7_SQL,
    description="TPC-H Q7: nation joined twice (supplier + customer side, "
    "both broadcast) with the disjunctive nation-pair residual; lineitem "
    "shuffles once for the orders join, then the (nation, nation, year) "
    "aggregate is tiny",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(Q7_SQL)


# --- TPC-H Q8 (national market share): conditional-share aggregate ---
# share = sum(volume where supp nation = target) / sum(volume), per order
# year, customers restricted to a region. Both sums go through the
# decimal route; the final division of two string-cast doubles is
# bit-identical across engines. (p_type filter plays the Q8 part filter.)

Q8_SQL = f"""
SELECT o_year,
       {dsum_expr("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0e0 END")}
         / {dsum_expr("volume")} AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1.0e0 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey
    AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""


@register(
    "q8_market_share",
    oracle=Q8_SQL,
    description="TPC-H Q8: 8-table join (every dim broadcast, nation "
    "twice), conditional share = decimal-routed CASE sum / decimal-routed "
    "total per year — the two-sums-one-division shape; region filter "
    "prunes the customer side before the fact join",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(
        spark, sf_dir, ["part", "supplier", "lineitem", "orders", "customer", "nation", "region"]
    )
    return spark.sql(Q8_SQL)


# --- TPC-H Q9 (product type profit): profit expression across part +
# lineitem, grouped by (supplier nation, order year). ps_supplycost
# becomes p_retailprice (same role: a per-part unit cost multiplied by
# l_quantity inside the profit expression).

Q9_SQL = f"""
SELECT nation, o_year, {dsum_expr("amount")} AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1.0e0 - l_discount)
           - p_retailprice * l_quantity AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey
    AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey
    AND p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


@register(
    "q9_product_profit",
    oracle=Q9_SQL,
    description="TPC-H Q9 shape (p_retailprice plays ps_supplycost in the "
    "profit expression): LIKE filter pushed to the part scan prunes the "
    "fact join by broadcast-semi; one lineitem shuffle for orders, then a "
    "(25 nations × years) aggregate",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["part", "supplier", "lineitem", "orders", "nation"])
    return spark.sql(Q9_SQL)


# --- TPC-H Q11 (important stock identification): group-sum vs a global
# scalar threshold. Stock value per part = sum(l_extendedprice *
# l_quantity) restricted to one nation's suppliers (lineitem grain plays
# partsupp); HAVING compares each group's decimal-routed sum against
# fraction × the same sum computed globally (uncorrelated scalar
# subquery → broadcast). Both sides exact → threshold engine-stable.

Q11_SQL = f"""
SELECT l_partkey AS ps_partkey, {dsum_expr("l_extendedprice * l_quantity")} AS value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY l_partkey
HAVING {dsum_expr("l_extendedprice * l_quantity")} > (
  SELECT 3.0e-4 * {dsum_expr("l_extendedprice * l_quantity")}
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
    AND n_name = 'NATION_7'
)
"""


@register(
    "q11_important_stock",
    oracle=Q11_SQL,
    description="TPC-H Q11 shape (lineitem value plays ps_supplycost × "
    "ps_availqty): per-part aggregate HAVING-filtered against an "
    "uncorrelated global-sum scalar (computed once, broadcast); both the "
    "group sums and the threshold go through the decimal route so the "
    "comparison is bit-stable",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return spark.sql(Q11_SQL)


# --- TPC-H Q12 (shipping modes / priority classes): CASE-sum pivot ---
# (l_shipmode becomes l_linestatus; the receipt-date window becomes a
# shipdate year. Same shape: join + two conditional counts per group.)

Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_returnflag = 'R'
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register(
    "q12_priority_classes",
    oracle=Q12_SQL,
    description="TPC-H Q12 shape (linestatus plays shipmode): fact-fact "
    "equi-join with the year + flag filters pushed to the lineitem scan, "
    "then integer CASE-sum pivot columns — counts are exact so no decimal "
    "routing needed",
)
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(Q12_SQL)


# --- TPC-H Q14 (promotion effect): conditional share over one month ---

Q14_SQL = f"""
SELECT 100.0e0 * {dsum_expr(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0e0 - l_discount) ELSE 0.0e0 END"
)} / {dsum_expr("l_extendedprice * (1.0e0 - l_discount)")} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register(
    "q14_promo_effect",
    oracle=Q14_SQL,
    description="TPC-H Q14: month filter pushed to the lineitem scan, "
    "part broadcast, promo share = two decimal-routed sums divided in "
    "double — single-row result, bit-identical across engines",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(Q14_SQL)


# --- TPC-H Q16 (parts/supplier relationship): count-distinct + NOT IN ---
# (The complaint-supplier exclusion becomes negative account balance;
# partsupp is the distinct (l_partkey, l_suppkey) grain of lineitem.)

Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) partsupp, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0e0
  )
GROUP BY p_brand, p_type, p_size
"""


@register(
    "q16_supplier_relation",
    oracle=Q16_SQL,
    description="TPC-H Q16 shape (negative balance plays the complaint "
    "filter; distinct lineitem grain plays partsupp): NOT IN over a "
    "non-null key set → null-safe anti-join with a tiny broadcast build; "
    "count(DISTINCT) per (brand, type, size) after the part filters",
)
def q16_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(Q16_SQL)


# --- TPC-H Q20 (potential part promotion): nested IN + correlated scalar ---
# Suppliers who shipped more than 30% of a 'small%' part's total 1997
# volume. ps_availqty > 0.5 × shipped-qty becomes per-(supplier, part)
# shipped qty > 0.3 × the part's ALL-supplier total — the same
# IN(GROUP BY ... HAVING agg > correlated-scalar) nesting. Quantities
# are integer-valued doubles, so every sum and the 0.3 multiply are
# exact/deterministic — no decimal routing needed for the comparison.

Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem l1
    WHERE l1.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
      )
      AND l1.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l1.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > (
      SELECT 0.3e0 * sum(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
        AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
  )
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_5'
"""


@register(
    "q20_part_promotion",
    oracle=Q20_SQL,
    description="TPC-H Q20 shape (per-part 1997 volume share plays the "
    "availqty threshold): IN(GROUP BY + HAVING agg > correlated scalar) — "
    "Catalyst decorrelates the inner scalar to a per-partkey aggregate "
    "joined on the correlation key, then the outer IN becomes a left-semi "
    "probe on s_suppkey; integer-valued quantities keep every comparison "
    "exact",
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["supplier", "nation", "lineitem", "part"])
    return spark.sql(Q20_SQL)
