"""Mergeable-sketch operators — the constant-memory summaries a 100 TB
engine leans on when exact answers would shuffle the world.

Beyond the reference's surface (its only aggregate is a per-day count,
sql_to_line.py:113-131); this is the §2.4 extension family:

  sketch_hll_merge     — per-shard Datasketches HLL partials merged with
                         hll_union_agg: the two-level aggregation every
                         distributed COUNT(DISTINCT) approximation uses.
                         Sketches are engine-specific, so the oracle checks
                         exact counts + a 3σ accuracy-bound boolean
                         (same pattern as array_q.approx_stats).
  sketch_countmin_freq — a count-min sketch built as PLAIN DataFrame ops
                         (explode d seeds → one hash-aggregate). Because
                         the hash family is md5-derived (functions/
                         hashing.py), DuckDB replays the ENTIRE sketch
                         bit-for-bit — estimates are exact-checkable, not
                         just bound-checkable.
  bloom_semijoin_reduce — runtime bloom-filter semi-join reduction: the
                         dim side builds a packed bitset, the fact scan
                         pre-filters on it BEFORE any shuffle, then an
                         exact semi-join removes false positives. Output
                         is provably identical to the plain semi-join
                         (no false negatives), which is the oracle.

Scale notes (100 TB):
  - HLL: partials are ~2^lgK bytes/shard regardless of data size; merge
    is a tiny all-to-one of sketches, not rows. lgK=14 → rsd 0.81%.
  - count-min: cell table is d·w rows TOTAL (here 4·512), mergeable by
    addition across any sharding; estimate ≥ truth is a deterministic
    guarantee (hash collisions only ever overcount).
  - bloom: the bitset rides the driver exactly like Spark's own
    InjectRuntimeFilter exchanges its BloomFilterAggregate subquery
    result — bounded at m/64 int64s (here 1024 = 8 KiB) no matter how
    large the dim side grows; the fact-side probe is pure codegen
    (element_at + shift + mask), no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import md5_int_duck, md5_int_spark
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

# --- HLL partial + merge ---

HLL_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey % 8) AS BIGINT) AS n_shards,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS union_ok
FROM lineitem
"""


@register(
    "sketch_hll_merge",
    oracle=HLL_ORACLE,
    description="two-level distributed distinct-count: per-shard "
    "hll_sketch_agg partials (constant 2^lgK bytes each) merged via "
    "hll_union_agg — the 100 TB COUNT(DISTINCT) pattern; oracle checks "
    "exact count + 3σ bound boolean (sketch bytes are engine-specific, "
    "the bound is not)",
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # lgConfigK=14 → rsd = 1.04/√2^14 ≈ 0.81%; 3σ ≈ 2.44% — bound at 2.5%
    shards = li.withColumn("shard", F.pmod("l_orderkey", F.lit(8)))
    partials = shards.groupBy("shard").agg(
        F.hll_sketch_agg("l_partkey", F.lit(14)).alias("sk"),
        F.count(F.lit(1)).alias("shard_rows"),
    )
    merged = partials.agg(
        F.sum("shard_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = li.agg(F.countDistinct("l_partkey").cast("long").alias("exact_parts"))
    return merged.crossJoin(exact).select(
        "n_rows",
        "n_shards",
        "exact_parts",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_parts"))
            <= 0.025 * F.col("exact_parts")
        ).alias("union_ok"),
    )


# --- count-min sketch, DuckDB-replayable ---

CM_DEPTH = 4
CM_WIDTH = 512


def _cm_oracle() -> str:
    cells = "\nUNION ALL\n".join(
        f"SELECT {j} AS seed, "
        f"{md5_int_duck('CAST(o_custkey AS VARCHAR)', salt=f'cm{j}')} % {CM_WIDTH} AS bucket, "
        f"CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 2"
        for j in range(CM_DEPTH)
    )
    qpos = "\nUNION ALL\n".join(
        f"SELECT k, {j} AS seed, "
        f"{md5_int_duck('CAST(k AS VARCHAR)', salt=f'cm{j}')} % {CM_WIDTH} AS bucket FROM qk"
        for j in range(CM_DEPTH)
    )
    return f"""
WITH cells AS ({cells}),
qk AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 40 = 7),
qpos AS ({qpos}),
est AS (
  SELECT k, min(coalesce(n, CAST(0 AS BIGINT))) AS est_n
  FROM qpos LEFT JOIN cells USING (seed, bucket) GROUP BY k
),
ex AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS exact_n FROM orders GROUP BY 1)
SELECT k, coalesce(exact_n, CAST(0 AS BIGINT)) AS exact_n, est_n,
       est_n >= coalesce(exact_n, CAST(0 AS BIGINT)) AS est_ge_exact
FROM est LEFT JOIN ex USING (k)
"""


def _cm_positions(key_expr: str):
    """(seed, bucket) struct array for one key expression — d md5 salts."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("seed"),
                F.pmod(
                    F.expr(md5_int_spark(key_expr, salt=f"cm{j}")), F.lit(CM_WIDTH)
                ).alias("bucket"),
            )
            for j in range(CM_DEPTH)
        ]
    )


@register(
    "sketch_countmin_freq",
    oracle=_cm_oracle(),
    description="count-min sketch as pure DataFrame ops: one explode over "
    f"{CM_DEPTH} md5-salted hash rows → one {CM_DEPTH}×{CM_WIDTH}-cell "
    "hash-aggregate (mergeable by addition across shards); point-frequency "
    "estimates = min over rows, with the deterministic est ≥ exact "
    "guarantee. The md5 hash family lets DuckDB replay the whole sketch "
    "bit-for-bit — estimates are exact-checked, not bound-checked",
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.select(F.explode(_cm_positions("CAST(o_custkey AS STRING)")).alias("c"))
        .select("c.seed", "c.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qk = cust.filter(F.col("c_custkey") % 40 == 7).select(F.col("c_custkey").alias("k"))
    qpos = qk.select(
        "k", F.explode(_cm_positions("CAST(k AS STRING)")).alias("c")
    ).select("k", "c.seed", "c.bucket")
    est = (
        qpos.join(cells, ["seed", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0).cast("long"))).alias("est_n"))
    )
    ex = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    zero = F.lit(0).cast("long")
    return (
        est.join(ex, "k", "left")
        .select(
            "k",
            F.coalesce("exact_n", zero).alias("exact_n"),
            "est_n",
            (F.col("est_n") >= F.coalesce("exact_n", zero)).alias("est_ge_exact"),
        )
    )


# --- bloom-filter semi-join reduction ---

BLOOM_M = 1 << 16  # bits; bitset = 1024 int64 words = 8 KiB
BLOOM_WORDS = BLOOM_M // 64

BLOOM_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderstatus
"""


def _bloom_hashes(key_expr: str) -> list:
    """Two independent 60-bit md5 slots → two bit positions in [0, M)."""
    return [
        F.pmod(F.expr(md5_int_spark(key_expr, salt="bloom", slot=s)), F.lit(BLOOM_M))
        for s in (0, 1)
    ]


def bloom_bitset(dim_keys: DataFrame, key_col: str) -> list[int]:
    """Packed bloom bitset from the dim side's keys: k=2 md5 positions →
    word_idx/bit → bit_or per word. The driver collects AT MOST
    BLOOM_WORDS (word, bits) rows — constant 8 KiB however large the dim
    side is — exactly how Spark's InjectRuntimeFilter moves its
    BloomFilterAggregate result into the probe side's scan filter."""
    pos = dim_keys.select(
        F.explode(F.array(*_bloom_hashes(f"CAST({key_col} AS STRING)"))).alias("pos")
    )
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * BLOOM_WORDS
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def bloom_probe(
    fact: DataFrame, key_col: str, bitset_words: list[int], flag_col: str = "__bloom_hit"
) -> DataFrame:
    """fact + boolean `flag_col`: True iff the key MIGHT be in the bloom
    set (no false negatives — False means definitely absent). Pure
    codegen: position → word lookup in the literal array → shift + mask;
    zero shuffles, zero UDFs. Callers that need both branches (e.g. the
    anti-join composition: misses are definite keeps, hits go through the
    exact join) filter on the flag once instead of probing twice."""
    bitset = F.lit(bitset_words)
    # stage position → word → bit-test as named columns (the __-prefixed
    # plumbing is dropped after the flag is computed)
    o = fact
    probe = None
    for s in (0, 1):
        h = F.pmod(
            F.expr(md5_int_spark(f"CAST({key_col} AS STRING)", salt="bloom", slot=s)),
            F.lit(BLOOM_M),
        )
        o = o.withColumn(f"__h{s}", h).withColumn(
            f"__w{s}", F.element_at(bitset, F.expr(f"CAST(__h{s} div 64 AS INT) + 1"))
        )
        hit = F.expr(f"(shiftright(__w{s}, CAST(__h{s} % 64 AS INT)) & 1) = 1")
        probe = hit if probe is None else (probe & hit)
    return o.withColumn(flag_col, probe).drop("__h0", "__w0", "__h1", "__w1")


def bloom_prefilter(fact: DataFrame, key_col: str, bitset_words: list[int]) -> DataFrame:
    """Fact rows whose key MIGHT be in the bloom set (superset of the true
    matches — no false negatives)."""
    return (
        bloom_probe(fact, key_col, bitset_words)
        .filter(F.col("__bloom_hit"))
        .drop("__bloom_hit")
    )


@register(
    "bloom_semijoin_reduce",
    oracle=BLOOM_ORACLE,
    description="runtime bloom-filter semi-join reduction: dim builds an "
    "8 KiB packed bitset (k=2 md5 bits/key), fact rows probe it with pure "
    "codegen (element_at + shift + mask) BEFORE any shuffle, exact "
    "broadcast semi-join mops up false positives — output provably equals "
    "the plain semi-join (blooms have no false negatives), which is the "
    "oracle; the manual twin of Spark's InjectRuntimeFilter",
)
def bloom_semijoin_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pre = bloom_prefilter(orders, "o_custkey", bloom_bitset(dim, "c_custkey"))
    exact = pre.join(F.broadcast(dim), pre["o_custkey"] == dim["c_custkey"], "left_semi")
    return (
        exact.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# --- mergeable quantile sketch (fixed-bin histogram) ---

QH_BINS = 256
QH_WIDTH = 2500.0  # domain [0, 640000) covers o_totalprice's range


def _qh_sql() -> str:
    """Engine-identical SQL (no percentile function): the exact side is
    the rank-based order statistic — value at rank ceil(p·n) — which is
    precisely what the |est − exact| ≤ bin-width guarantee covers.
    (Interpolated quantile_cont/percentile can legitimately land in a
    distant bin on sparse data; round-3 advice.)"""
    return f"""
WITH b AS (
  SELECT least(greatest(CAST(floor(o_totalprice / {QH_WIDTH!r}) AS BIGINT),
               CAST(0 AS BIGINT)), CAST({QH_BINS - 1} AS BIGINT)) AS bin,
         o_orderkey % 8 AS shard,
         CAST(round(o_totalprice * 1.0e2) AS BIGINT) AS cents
  FROM orders
),
partials AS (
  SELECT shard, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY shard, bin
),
hist AS (
  SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM partials GROUP BY bin
),
cum AS (
  SELECT bin, n,
         CAST(sum(n) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM hist
),
q AS (
  SELECT 0.5e0 AS p UNION ALL SELECT 0.9e0 UNION ALL SELECT 0.99e0
),
est AS (
  SELECT q.p, min(cum.bin) AS qbin, min(cum.total) AS n_rows
  FROM cum CROSS JOIN q
  WHERE cum.c >= ceil(q.p * cum.total)
  GROUP BY q.p
),
exv AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY cents
),
excum AS (
  SELECT cents,
         CAST(sum(n) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM exv
),
ex AS (
  SELECT q.p, min(excum.cents) / 1.0e2 AS exact_q
  FROM excum CROSS JOIN q
  WHERE excum.c >= ceil(q.p * excum.total)
  GROUP BY q.p
)
SELECT est.p,
       est.n_rows,
       (est.qbin + 1) * {QH_WIDTH!r}e0 AS est_q,
       ex.exact_q,
       abs((est.qbin + 1) * {QH_WIDTH!r}e0 - ex.exact_q) <= {QH_WIDTH!r}e0
         AS bound_ok
FROM est JOIN ex ON est.p = ex.p
"""


@register(
    "sketch_quantile_hist",
    oracle=_qh_sql(),
    description="mergeable quantile sketch: per-shard fixed-bin histograms "
    f"(constant {QH_BINS} rows/shard), merged by plain addition, quantile "
    "estimate = first bin whose cumulative count reaches ceil(p·n) with "
    "the deterministic |est − exact| ≤ bin-width guarantee checked "
    "in-query against the exact RANK-BASED order statistic (value at "
    "rank ceil(p·n) — the statistic the bound actually covers; round-3 "
    "advice). The 100 TB quantile path: shard partials are constant-size, "
    f"the merge moves {QH_BINS} rows per shard, never data",
)
def sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_qh_sql())


# --- KMV (bottom-k / theta-style) sketch: cross-source overlap estimation ---
# The DataSketches-theta idea (Beyer et al., "On Synopses for Distinct-
# Value Estimation Under Multiset Operations", SIGMOD'07): keep the K
# smallest hash values per set; the union sketch is the bottom-K of the
# merged sketches, and Jaccard(A,B) ≈ |union-sketch ∩ A-sketch ∩
# B-sketch| / K. Unlike HLL, KMV supports INTERSECTION estimates — the
# corpus-overlap question ("how much does source A share with source
# B?") that drives contamination and mixture decisions.
#
# Because the hash is md5-derived (functions/hashing.py), DuckDB replays
# the ENTIRE sketch bit-for-bit: estimates are exact-checkable, and the
# in-query exact Jaccard (full shingle sets — affordable at test SF)
# doubles as the accuracy readout.
#
# Scale (100 TB): per-source sketch is K rows no matter the corpus —
# the bottom-K runs as one partial top-K per partition then a K·shards
# merge (Spark's window rank after a (source, hv) distinct; the partial
# aggregate absorbs the volume). The pairwise stage touches only
# |sources|²·K sketch rows — sketch-sized, never corpus-sized. The
# exact-Jaccard column is the TEST-scale accuracy readout only; at
# production scale you'd drop it (that is the point of the sketch).

KMV_K = 64


def _kmv_sql(shingle_unnest: str, h_shingle: str) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT source, shingle FROM ({shingle_unnest}) t
),
hv AS (
  SELECT source, shingle, {h_shingle} AS h FROM sh
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hv
  ) r WHERE rn <= {KMV_K}
),
srcs AS (SELECT DISTINCT source FROM sh),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
),
merged AS (
  SELECT p.source_a, p.source_b, s.h
  FROM pairs p JOIN sk s ON s.source = p.source_a
  UNION
  SELECT p.source_a, p.source_b, s.h
  FROM pairs p JOIN sk s ON s.source = p.source_b
),
ub AS (
  SELECT source_a, source_b, h FROM (
    SELECT source_a, source_b, h,
           row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
    FROM merged
  ) r WHERE rn <= {KMV_K}
),
shared AS (
  SELECT u.source_a, u.source_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM ub u
  JOIN sk x ON x.source = u.source_a AND x.h = u.h
  JOIN sk y ON y.source = u.source_b AND y.h = u.h
  GROUP BY u.source_a, u.source_b
),
kcnt AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS k_used
  FROM ub GROUP BY source_a, source_b
),
exact AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM hv a JOIN hv b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source)
SELECT k.source_a, k.source_b, k.k_used,
       COALESCE(s.n_shared, 0) AS n_shared,
       CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / k.k_used AS jaccard_est,
       CAST(COALESCE(e.n_inter, 0) AS DOUBLE)
         / (za.n_sh + zb.n_sh - COALESCE(e.n_inter, 0)) AS jaccard_exact
FROM kcnt k
LEFT JOIN shared s ON s.source_a = k.source_a AND s.source_b = k.source_b
LEFT JOIN exact e ON e.source_a = k.source_a AND e.source_b = k.source_b
JOIN sizes za ON za.source = k.source_a
JOIN sizes zb ON zb.source = k.source_b
"""


def _kmv_unnest_spark() -> str:
    from posting_lines_spark.operators.dedup import shingle_array_spark

    return (
        f"SELECT source, explode({shingle_array_spark('text')}) AS shingle "
        "FROM documents"
    )


def _kmv_unnest_duck() -> str:
    from posting_lines_spark.queries.dedup_q import shingle_sql_duck

    return f"SELECT source, unnest({shingle_sql_duck('text')}) AS shingle FROM documents"


@register(
    "sketch_kmv_overlap",
    oracle=_kmv_sql(_kmv_unnest_duck(), md5_int_duck("shingle", salt="kmv")),
    description=f"KMV (bottom-{KMV_K} / theta-style) sketch overlap: per-source "
    "bottom-K of md5 shingle hashes; pairwise Jaccard estimated from the "
    "union sketch (theta intersection rule) next to the exact Jaccard as "
    "the accuracy readout — sketches are K rows/source at ANY corpus "
    "size, so the pairwise stage is sketch-sized; DuckDB replays the "
    "sketch bit-for-bit (md5-derived hashes)",
)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_kmv_sql(_kmv_unnest_spark(), md5_int_spark("shingle", salt="kmv")))


# --- exact distributed heavy hitters via Misra-Gries candidates ---
# The two-pass exact heavy-hitters algorithm every 100 TB frequency
# report should use instead of a full groupBy: pass 1 runs a
# Misra-Gries(k) summary PER PARTITION inside mapInPandas (bounded
# state: at most k−1 counters per partition, merged per Arrow batch by
# the standard batched decrement — subtract the k-th largest merged
# count, drop ≤0). Pigeonhole guarantee: any key with GLOBAL count
# > N/k exceeds N_P/k in ≥1 partition, so the union of per-partition
# candidates is a SUPERSET of the true heavy hitters — never a miss.
# Pass 2 semi-joins the stream onto the (tiny, broadcast) candidate
# set and counts EXACTLY, keeping keys with n·k > N (integer-exact
# threshold, no division). Result = exactly the keys a plain
# GROUP BY ... HAVING would return — which is the oracle — but the
# full shuffle carries ONLY candidate rows: at a 10⁹-key domain the
# groupBy shuffles 10⁹ keys, this shuffles ≤ partitions·k candidates
# plus their rows.
#
# Stream choice: the char-3-gram token stream of `documents` — its
# frequency SHAPE is scale-free (Zipf, see text_zipf_fit), so "count >
# N/200" names the same ~130 heavy grams at every SF; uniform TPC-H
# keys would make any fixed N/k threshold vacuous as N grows. (The
# gram DOMAIN here is alphabet-bounded; on real unicode/longer-gram
# text the domain explodes while the frequency shape persists — which
# is exactly when MG's bounded counters beat the full groupBy.)

HH_K = 200  # heavy = count > N / HH_K


def _mg_candidates(batches, k: int = HH_K):
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        bc = pdf["k"].value_counts()
        for key, cnt in bc.items():  # iterates DISTINCT keys in the batch
            counters[key] = counters.get(key, 0) + int(cnt)
        if len(counters) >= k:
            s = pd.Series(counters)
            m = s.nlargest(k).iloc[-1]  # k-th largest merged count
            s = s - m
            counters = s[s > 0].to_dict()
    yield pd.DataFrame({"k": pd.Series(list(counters.keys()), dtype="object")})


_HH_GRAMS_SPARK = """SELECT substr(text, CAST(i AS INT), 3) AS k
FROM documents LATERAL VIEW explode(sequence(1, length(text) - 2)) t AS i
WHERE length(text) >= 3"""

HH_ORACLE = f"""
WITH toks AS (
  SELECT substr(text, CAST(i AS INT), 3) AS k
  FROM documents CROSS JOIN LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) t
  WHERE length(text) >= 3
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
SELECT toks.k AS gram, CAST(count(*) AS BIGINT) AS n
FROM toks CROSS JOIN tot
GROUP BY toks.k, tot.n_total
HAVING count(*) * {HH_K} > tot.n_total
"""


@register(
    "topk_heavy_hitters_mg",
    oracle=HH_ORACLE,
    description=f"exact distributed heavy hitters (count > N/{HH_K}) "
    "over the Zipf-shaped char-3-gram stream: per-partition Misra-Gries "
    "candidates in mapInPandas (≤ k−1 counters/partition, batched "
    "decrement), pigeonhole superset guarantee, then an exact second "
    "pass counting ONLY candidate rows with an integer-exact n·k > N "
    "threshold — identical output to the full groupBy HAVING (the "
    "oracle) while shuffling candidates instead of the key domain",
)
def topk_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    toks = spark.sql(_HH_GRAMS_SPARK)
    # the candidate set is bounded (≤ partitions·k) and explicitly
    # broadcast below
    cands = toks.mapInPandas(_mg_candidates, schema="k string").distinct()
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        toks.join(F.broadcast(cands.select(F.col("k").alias("ck"))),
                  toks.k == F.col("ck"), "left_semi")
        .groupBy(F.col("k").alias("gram"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n") * HH_K > F.col("n_total"))
        .select("gram", "n")
    )


# --- AMS (tug-of-war) second-moment sketch ---
# F₂ = Σ_k f(k)² — the self-join size / skew functional. The AMS
# estimator: for each of E=16 estimators, Z_e = Σ_k s_e(k)·f(k) with
# 4-wise-ish signs s_e ∈ {±1}; E[Z²] = F₂. All 16 signs come from ONE
# md5 digest per key (bits 0..15 of the 60-bit limb — one hash, not 16),
# so the whole sketch is 16 integer accumulators in a single aggregate
# pass: mergeable, streaming-compatible, constant state. Z and Z² are
# exact BIGINTs (|Z| ≤ Σf = rowcount; Z² ≤ 3.6e15 at sf10 — in-range),
# the mean of 16 Z² is one final division, and the oracle replays the
# identical digest bits. exact_f2 alongside gives the measured relative
# error — the "measure, don't guess" audit for the sketch itself.
#
# Scale: per-key aggregate (map-side combine, key-domain-bounded), then
# a 16-buffer reduce to ONE row. No window, no join, no fanout.

AMS_E = 16


def _ams_sql(h_key: str) -> str:
    zs = ",\n         ".join(
        f"CAST(sum((((h >> {e}) & 1) * 2 - 1) * f) AS BIGINT) AS z{e}"
        for e in range(AMS_E)
    )
    sq = " + ".join(f"z{e} * z{e}" for e in range(AMS_E))
    return f"""
WITH per_key AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM lineitem
  GROUP BY l_partkey
),
signed AS (
  SELECT f, {h_key} AS h FROM per_key
),
zrow AS (
  SELECT {zs},
         CAST(sum(f * f) AS BIGINT) AS exact_f2,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM signed
)
SELECT n_keys, exact_f2,
       CAST(({sq}) AS DOUBLE) / {AMS_E}.0e0 AS est_f2,
       (CAST(({sq}) AS DOUBLE) / {AMS_E}.0e0 - CAST(exact_f2 AS DOUBLE))
         / CAST(exact_f2 AS DOUBLE) AS rel_err
FROM zrow
"""


@register(
    "sketch_ams_f2",
    oracle=_ams_sql(md5_int_duck("CAST(k AS VARCHAR)", salt="ams")),
    description="AMS tug-of-war sketch for F₂ (self-join size / skew "
    "functional): 16 ±1-signed accumulators from ONE md5 digest per "
    "key (bits 0..15), exact BIGINT Z and Z², mean-of-16 estimate plus "
    "measured relative error vs exact F₂ — mergeable constant-state "
    "sketch in a single per-key aggregate pass",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_ams_sql(md5_int_spark("CAST(k AS STRING)", salt="ams")))


# --- bloom-filter false-positive-rate audit ---
# "Measure, don't guess" for the bloom semi-join itself (the
# dedup_minhash_estimate_audit / sketch_ams_f2 discipline): build the
# k=2, M=65536 bitset over the BUILDING customer keys with the SAME
# operator the semi-join uses (bloom_bitset/bloom_probe), probe the
# provably-disjoint complement (every customer has exactly one
# segment), and report the measured false-positive rate next to the
# load-based prediction (bits_set/M)² — the number an operator checks
# before trusting a bloom reduction on a new key domain. Everything is
# md5-deterministic; the bitset is the sanctioned 8 KiB driver
# metadata; popcount of the collected words is driver arithmetic.
#
# Oracle: an INDEPENDENT full SQL replication of the bitset build and
# probe (bit_or word aggregate + shift/mask tests) — not a semantic
# shortcut, so a hash drift in either engine's md5/bit path would
# surface as a mismatch.

_BLOOM_SEG = "BUILDING"


def _bloom_fpr_oracle() -> str:
    M = BLOOM_M
    h = [
        md5_int_duck("CAST(c_custkey AS VARCHAR)", salt="bloom", slot=s)
        for s in (0, 1)
    ]
    return f"""
WITH members AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
),
pos AS (
  SELECT ({h[0]}) % {M} AS pos FROM members
  UNION ALL
  SELECT ({h[1]}) % {M} FROM members
),
wb AS (
  -- HUGEINT lane: DuckDB range-checks signed BIGINT shifts (1<<63
  -- errors); the 128-bit lane holds the same 64 bit positions and the
  -- compared OUTPUTS (popcounts, bit tests) are integer-identical
  SELECT pos // 64 AS w,
         bit_or(CAST(1 AS HUGEINT) << CAST(pos % 64 AS INT)) AS bits
  FROM pos GROUP BY 1
),
bs AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM wb),
nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM members),
probes AS (
  SELECT ({h[0]}) % {M} AS h0, ({h[1]}) % {M} AS h1
  FROM customer WHERE c_mktsegment <> '{_BLOOM_SEG}'
),
ph AS (
  SELECT coalesce(w0.bits, 0) AS b0, p.h0, coalesce(w1.bits, 0) AS b1, p.h1
  FROM probes p
  LEFT JOIN wb w0 ON w0.w = p.h0 // 64
  LEFT JOIN wb w1 ON w1.w = p.h1 // 64
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         CAST(sum(CASE WHEN ((b0 >> CAST(h0 % 64 AS INT)) & 1) = 1
                        AND ((b1 >> CAST(h1 % 64 AS INT)) & 1) = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS false_pos
  FROM ph
)
SELECT nm.n_members, a.n_probes, bs.bits_set,
       CAST({M} AS BIGINT) AS m_bits, a.false_pos,
       CAST(a.false_pos AS DOUBLE) / CAST(a.n_probes AS DOUBLE) AS observed_fpr,
       (CAST(bs.bits_set AS DOUBLE) / {float(M)!r}e0)
         * (CAST(bs.bits_set AS DOUBLE) / {float(M)!r}e0) AS load_fpr
FROM agg a CROSS JOIN bs CROSS JOIN nm
"""


@register(
    "sketch_bloom_fpr_audit",
    oracle=_bloom_fpr_oracle(),
    description="bloom false-positive-rate audit: the k=2/M=65536 "
    "operator bitset built over one customer segment, probed with the "
    "provably-disjoint complement; measured FPR reported next to the "
    "load-based (bits_set/M)² prediction — oracle is an independent "
    "full SQL replication of the bitset and probe, not a shortcut",
)
def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    members = c.filter(F.col("c_mktsegment") == _BLOOM_SEG).select("c_custkey").distinct()
    arr = bloom_bitset(members, "c_custkey")
    bits_set = sum((w & ((1 << 64) - 1)).bit_count() for w in arr)
    probes = c.filter(F.col("c_mktsegment") != _BLOOM_SEG)
    probed = bloom_probe(probes, "c_custkey", arr)
    agg = probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("__bloom_hit"), 1).otherwise(0)).cast("long").alias("false_pos"),
    )
    nm = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return agg.crossJoin(nm).select(
        "n_members",
        "n_probes",
        F.lit(bits_set).cast("long").alias("bits_set"),
        F.lit(BLOOM_M).cast("long").alias("m_bits"),
        "false_pos",
        (F.col("false_pos").cast("double") / F.col("n_probes").cast("double")).alias(
            "observed_fpr"
        ),
        F.expr(
            f"(CAST({bits_set} AS DOUBLE) / {float(BLOOM_M)!r}e0)"
            f" * (CAST({bits_set} AS DOUBLE) / {float(BLOOM_M)!r}e0)"
        ).alias("load_fpr"),
    )


# --- linear counting (the small-cardinality distinct sketch) ---
# Whang et al. 1990: hash keys into m buckets, count EMPTY buckets V,
# estimate n̂ = m·ln(m/V). The regime HyperLogLog is weakest in (small
# n relative to m — HLL itself switches to linear counting below its
# threshold), here as a first-class sketch whose md5 hash family lets
# DuckDB replay the ENTIRE bucket bitmap bit-for-bit (the
# countmin/bloom discipline — exact-checkable, not bound-checkable).
# ln(m) − ln(V) goes through the deterministic integer-ln kernel (both
# args exact integers). The exact distinct count rides along with the
# relative error, so the released row audits itself.
#
# Scale: the bucket bitmap is ONE m-bounded aggregate (map-side
# combinable: occupied = max-combine per bucket); merging shards is OR
# over bitmaps — the classic mergeable-sketch shape.

LC_M = 4096


def _linear_counting_sql(md5u: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    # Saturation guard: once every bucket is occupied (V = 0 —
    # guaranteed past n ≈ m·ln m ≈ 36k distinct), the estimator is
    # undefined (ln(m/0)); the integer-ln kernel's contract is n ≥ 1
    # and at 0 it would return a finite WRONG value. nullif routes the
    # saturated regime to NULL n_est/rel_err on both engines instead —
    # the documented degenerate-case discipline.
    layers, last = dln_int_cte_layers(
        [("mm", "lm"), ("nullif(v, 0)", "lv")], "vt", "lc"
    )
    return f"""
WITH occ AS (
  SELECT DISTINCT ({md5u}) % {LC_M} AS bucket
  FROM events
),
exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events),
vt AS (
  SELECT CAST({LC_M} AS BIGINT) AS mm,
         CAST({LC_M} - (SELECT count(*) FROM occ) AS BIGINT) AS v,
         (SELECT n_exact FROM exact) AS n_exact
),
{layers}
SELECT mm AS m_buckets, v AS v_empty, n_exact,
       CAST(mm AS DOUBLE) * (lm_ln - lv_ln) AS n_est,
       abs(CAST(mm AS DOUBLE) * (lm_ln - lv_ln) - CAST(n_exact AS DOUBLE))
         / CAST(n_exact AS DOUBLE) AS rel_err
FROM {last}
"""


@register(
    "sketch_linear_counting",
    oracle=_linear_counting_sql(md5_int_duck("user_id", salt="lc")),
    description=f"linear counting distinct-user sketch (m = {LC_M} "
    "md5 buckets, n̂ = m·ln(m/V)): the small-cardinality regime HLL "
    "falls back to, with the md5 family making the whole bitmap "
    "DuckDB-replayable bit-for-bit; ln through the integer-ln kernel; "
    "exact count + relative error ride along as the self-audit; "
    "m-bounded mergeable state",
)
def sketch_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_linear_counting_sql(md5_int_spark("user_id", salt="lc")))
