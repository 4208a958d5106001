"""Similarity-search queries over `embeddings` (array<float>), each with a
DuckDB oracle replaying identical float math.

Cross-engine float policy: float→double products are exact; both engines
fold the dot product sequentially in index order seeded with +0.0 (Spark
`aggregate` init, DuckDB `list_prepend`), so cosines are bit-identical —
measured 0 mismatches over the full table. Rankings order by (cosine
DESC, vec_id) and are therefore deterministic too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.operators import similarity as sim
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

NUM_PLANES = 4
DIMS = 64
K = 10
QUERY_IDS = [0, 1, 2, 3, 4]

# --- DuckDB dialect fragments ---

def dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def cosine_duck(a: str, b: str) -> str:
    return f"({dot_duck(a, b)} / (sqrt({dot_duck(a, a)}) * sqrt({dot_duck(b, b)})))"


def plane_weight_duck(plane: str, dim: str) -> str:
    h = (
        f"CAST('0x' || substring(md5(concat('plane', CAST({plane} AS VARCHAR), '_', "
        f"CAST({dim} AS VARCHAR))), 1, 15) AS BIGINT)"
    )
    return f"(({h} % 2001) - 1000) / 1000.0e0"


PLANES_DUCK = f"""
SELECT p AS plane_idx,
       list_transform(range(1, {DIMS + 1}), d -> {plane_weight_duck('p', 'd')}) AS w
FROM range(0, {NUM_PLANES}) t(p)
"""

_QIDS = ", ".join(str(v) for v in QUERY_IDS)

BRUTE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN ({_QIDS})),
scored AS (
  SELECT q.query_id, e.vec_id, {cosine_duck('e.embedding', 'q.qv')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_bruteforce",
    oracle=BRUTE_ORACLE,
    description="exact cosine top-k (brute force baseline): broadcast query "
    "vectors, JVM-side zip_with/aggregate dot products, per-query ranking "
    "window — the exact-answer path for small query sets",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return sim.brute_force_topk(emb, queries, K)


_BUCKET_DUCK = f"""
SELECT eb.vec_id, sum(CASE WHEN {dot_duck('eb.embedding', 'pl.w')} > 0 THEN 1 ELSE 0 END
       * CAST(pow(2, pl.plane_idx) AS BIGINT)) AS bucket
FROM embeddings eb CROSS JOIN ({PLANES_DUCK}) pl
GROUP BY eb.vec_id
"""

IVF_ORACLE = f"""
WITH buckets AS ({_BUCKET_DUCK}),
eb AS (SELECT b.vec_id, e.embedding, b.bucket FROM buckets b JOIN embeddings e USING (vec_id)),
qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM eb WHERE vec_id IN ({_QIDS})),
scored AS (
  SELECT qb.query_id, eb.vec_id, {cosine_duck('eb.embedding', 'qb.qv')} AS cosine
  FROM eb JOIN qb USING (bucket)
  WHERE eb.vec_id != qb.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_ivf",
    oracle=IVF_ORACLE,
    description="ANN top-k via deterministic random-hyperplane LSH buckets "
    "(the 100 TB path: bucket equi-join replaces the n×q cross product; "
    "recall tunes with plane count/multi-probe)",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)
    return sim.ivf_topk(emb, queries, planes, K)


_MASK_VALUES = ", ".join(f"({m})" for m in [0] + [1 << p for p in range(NUM_PLANES)])

IVF_MP_ORACLE = f"""
WITH buckets AS ({_BUCKET_DUCK}),
eb AS (SELECT b.vec_id, e.embedding, b.bucket FROM buckets b JOIN embeddings e USING (vec_id)),
qb AS (
  SELECT vec_id AS query_id, qv, xor(qbucket, mask) AS bucket
  FROM (SELECT vec_id, embedding AS qv, bucket AS qbucket FROM eb WHERE vec_id IN ({_QIDS}))
  CROSS JOIN (VALUES {_MASK_VALUES}) t(mask)
),
scored AS (
  SELECT qb.query_id, eb.vec_id, {cosine_duck('eb.embedding', 'qb.qv')} AS cosine
  FROM eb JOIN qb USING (bucket)
  WHERE eb.vec_id != qb.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_ivf_multiprobe",
    oracle=IVF_MP_ORACLE,
    description="ANN top-k with Hamming-1 multi-probe: each query searches "
    "its own LSH bucket plus the buckets one plane-flip away — the recall "
    "knob at equal plane count (recall gain asserted vs single-probe in "
    "tests/test_operators.py)",
)
def sim_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)
    return sim.ivf_topk(
        emb, queries, planes, K, probes=1, num_planes=NUM_PLANES
    )


# --- k-means IVF training ---
# Real IVF indexes train their cell centroids with k-means instead of
# random hyperplanes. This is the trainer: deterministic k-means++-free
# init (the K vectors with the smallest md5 hash), two unrolled Lloyd
# iterations in long (vec_id, dim, val) format, final cell assignment.
#
# Cross-engine float parity: per-(vec,cluster) distances and per-(cluster,
# dim) centroid means are SUMS over doubles — partial-aggregation order
# differs between engines, so both are routed through DECIMAL (exact,
# associative; see parity.py). Centroid = CAST(decimal_sum AS DOUBLE) /
# count is then bit-identical, and every (val - cval)² product is plain
# IEEE double math on identical inputs. Argmin ties break on cluster_id.
#
# Scale: each Lloyd round is two shuffles — (vec_id, cluster) distance
# aggregate (the n×K join streams through map-side combine) and the
# (cluster, dim) mean. K and dims are fixed, so state per round is
# K×dims ≈ nothing; the n×K candidate stream is the known k-means cost
# and AQE can split skewed cells. Unrolled iterations keep the whole
# train a single declarative plan (no driver loop, no checkpoint state).

KM_K = 8
KM_DECIMAL_D = "DECIMAL(38,5)"  # squared-diff terms; see parity.py bound
KM_DECIMAL_C = "DECIMAL(38,6)"  # centroid component sums


def _km_assign(name: str, cent: str) -> str:
    """CTE pair: distances to `cent`'s centroids, then argmin assignment."""
    return f"""
{name}_d AS (
  SELECT l.vec_id, c.cluster_id,
         sum(CAST((l.val - c.cval) * (l.val - c.cval) AS {KM_DECIMAL_D})) AS dist2
  FROM long_vecs l JOIN {cent} c ON l.dim = c.dim
  GROUP BY l.vec_id, c.cluster_id
),
{name} AS (
  SELECT vec_id, cluster_id, dist2 FROM (
    SELECT vec_id, cluster_id, dist2,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
    FROM {name}_d
  ) r WHERE rn = 1
)"""


def _km_update(name: str, assign: str) -> str:
    # csum/cnt are kept alongside cval: downstream checksums must sum the
    # EXACT decimals and divide once — re-quantizing cval (a quotient by a
    # small int) hits systematic half-way rounding cases where the two
    # engines' double→decimal casts disagree (see parity.py).
    return f"""
{name} AS (
  SELECT a.cluster_id, l.dim,
         sum(CAST(l.val AS {KM_DECIMAL_C})) AS csum,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(l.val AS {KM_DECIMAL_C})) AS DOUBLE) / count(*) AS cval
  FROM {assign} a JOIN long_vecs l ON a.vec_id = l.vec_id
  GROUP BY a.cluster_id, l.dim
)"""


def _km_chain(long_explode: str, h_vec: str) -> str:
    """The shared training CTE chain: long format → hash init → two Lloyd
    rounds. Ends at a2 (final cell assignment) / c2 (final centroids)."""
    return f"""
WITH long_vecs AS ({long_explode}),
hsel AS (
  SELECT vec_id FROM embeddings ORDER BY {h_vec}, vec_id LIMIT {KM_K}
),
init AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY {h_vec}, vec_id) AS BIGINT) - 1 AS cluster_id
  FROM hsel
),
c0 AS (
  SELECT i.cluster_id, l.dim, l.val AS cval
  FROM init i JOIN long_vecs l ON i.vec_id = l.vec_id
),
{_km_assign('a1', 'c0')},
{_km_update('c1', 'a1')},
{_km_assign('a2', 'c1')}"""


def _kmeans_sql(long_explode: str, h_vec: str) -> str:
    return f"""
{_km_chain(long_explode, h_vec)},
{_km_update('c2', 'a2')},
cstats AS (
  SELECT cluster_id,
         CAST(sum(csum) AS DOUBLE) / max(cnt) AS centroid_checksum
  FROM c2 GROUP BY cluster_id
)
SELECT /*+ BROADCAST(s) */ a.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a.dist2) AS DOUBLE) / count(*) AS mean_dist2,
       max(s.centroid_checksum) AS centroid_checksum
FROM a2 a JOIN cstats s ON a.cluster_id = s.cluster_id
GROUP BY a.cluster_id
"""


_KM_LONG_SPARK = (
    "SELECT vec_id, pos + 1 AS dim, CAST(col AS DOUBLE) AS val "
    "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, col"
)
_KM_LONG_DUCK = (
    f"SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS val "
    f"FROM embeddings CROSS JOIN range(1, {DIMS + 1}) t(d)"
)

from posting_lines_spark.functions.hashing import md5_int_duck, md5_int_spark  # noqa: E402

KMEANS_ORACLE = _kmeans_sql(
    _KM_LONG_DUCK, md5_int_duck("CAST(vec_id AS VARCHAR)", salt="kmeans")
)


@register(
    "sim_kmeans_ivf",
    oracle=KMEANS_ORACLE,
    description="k-means IVF training: deterministic hash init, two "
    "unrolled Lloyd iterations in long format with decimal-routed "
    "distance/centroid aggregates (order-independent ⇒ bit-identical "
    "cross-engine), final cell assignment with per-cell inertia and "
    "centroid checksums — the trained-centroid upgrade to the "
    "hyperplane IVF index",
)
def sim_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        _kmeans_sql(_KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"))
    )


# --- IVF search over the trained cells ---

def _kmeans_search_sql(long_explode: str, h_vec: str, cosine_fn) -> str:
    return f"""
{_km_chain(long_explode, h_vec)},
eb AS (
  SELECT a.vec_id, e.embedding, a.cluster_id
  FROM a2 a JOIN embeddings e ON a.vec_id = e.vec_id
),
qb AS (
  SELECT vec_id AS query_id, embedding AS qv, cluster_id
  FROM eb WHERE vec_id IN ({_QIDS})
),
scored AS (
  SELECT qb.query_id, eb.vec_id, {cosine_fn('eb.embedding', 'qb.qv')} AS cosine
  FROM eb JOIN qb ON eb.cluster_id = qb.cluster_id
  WHERE eb.vec_id != qb.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
              AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_ivf_kmeans",
    oracle=_kmeans_search_sql(
        _KM_LONG_DUCK,
        md5_int_duck("CAST(vec_id AS VARCHAR)", salt="kmeans"),
        cosine_duck,
    ),
    description="ANN top-k over TRAINED IVF cells: the k-means chain "
    "assigns every vector to its nearest learned centroid, queries probe "
    "only their own cell — train→index→search end to end; candidates per "
    "query ≈ n/K instead of n (data-adaptive, unlike fixed hyperplanes)",
)
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        _kmeans_search_sql(
            _KM_LONG_SPARK,
            md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"),
            sim.cosine_spark,
        )
    )


EMB_BASE_DUCK = """
SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
"""

EMB_DEDUP_ORACLE = f"""
WITH base AS ({EMB_BASE_DUCK}),
buckets AS (
  SELECT eb.vec_id, sum(CASE WHEN {dot_duck('eb.embedding', 'pl.w')} > 0 THEN 1 ELSE 0 END
         * CAST(pow(2, pl.plane_idx) AS BIGINT)) AS bucket
  FROM base eb CROSS JOIN ({PLANES_DUCK}) pl
  GROUP BY eb.vec_id
),
eb AS (SELECT b.vec_id, e.embedding, b.bucket FROM buckets b JOIN base e USING (vec_id))
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cosine_duck('a.embedding', 'b.embedding')} AS cosine
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cosine_duck('a.embedding', 'b.embedding')} >= 0.95e0
"""


@register(
    "dedup_embedding_cosine",
    oracle=EMB_DEDUP_ORACLE,
    description="embedding near-dup: LSH-bucketed candidate pairs + exact "
    "cosine ≥ 0.95 (no all-pairs at scale; duplicate vectors land in the "
    "same bucket by construction)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    base = spark.sql(EMB_BASE_DUCK)  # same text is valid Spark SQL
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)
    eb = sim.bucketize(base, planes)
    a = eb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket")
    b = eb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(sim.cosine_spark("va", "vb")))
        .filter(F.col("cosine") >= 0.95)
        .select("id_a", "id_b", "cosine")
    )


# --- per-label embedding centroids (long form) ---
# The class-prototype aggregate (centroid per label) in long (label, dim)
# format: one explode + one decimal-routed aggregate, dividing ONCE per
# the kmeans rule (parity.py). Long-form output because the driver's
# canonicalizer can't hash array columns; downstream consumers re-pivot
# with array_agg when they need vectors.


def _centroid_sql(long_explode: str) -> str:
    return f"""
WITH long_vecs AS ({long_explode}),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT CAST(l.label AS BIGINT) AS label, CAST(lv.dim AS BIGINT) AS dim,
       CAST(sum(CAST(lv.val AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS centroid_val,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM long_vecs lv JOIN lab l ON l.vec_id = lv.vec_id
GROUP BY l.label, lv.dim
"""


@register(
    "embedding_centroids",
    oracle=_centroid_sql(_KM_LONG_DUCK),
    description="per-label embedding centroids in long (label, dim) form: "
    "explode + one decimal-routed aggregate dividing once (engine-exact); "
    "the class-prototype op behind nearest-centroid classification and "
    "IVF seeding; one shuffle on the (label, dim) key, map-side combined",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_centroid_sql(_KM_LONG_SPARK))


# --- product quantization (PQ) ADC search + exact re-rank ---
# Jégou et al. TPAMI 2011 (see operators/similarity.py). M=4 subspaces
# × 16 codes compress a dim-64 float vector to 4 bytes of codes — the
# candidate scan at 100 TB touches codes + a broadcast M·K' distance
# table instead of raw vectors; only the `RERANK` survivors per query
# are re-scored against real embeddings. The sampled codebook (K'
# lexicographically-first vectors per subspace = the k-means init) keeps
# both engines' codebooks identical; every distance is a sequential
# index-order fold, so codes, ADC sums, and the final ranking are
# bit-identical.

PQ_M = 4
PQ_SUBDIM = DIMS // PQ_M
PQ_KPRIME = 16
PQ_RERANK = 50


def l2sq_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


PQ_ORACLE = f"""
WITH subs AS (
  SELECT vec_id, m, embedding[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS sub
  FROM embeddings CROSS JOIN range(0, {PQ_M}) t(m)
),
codebook AS (SELECT m, vec_id AS code, sub AS cent FROM subs WHERE vec_id < {PQ_KPRIME}),
cdist AS (
  SELECT s.vec_id, s.m, c.code, {l2sq_duck('s.sub', 'c.cent')} AS sq
  FROM subs s JOIN codebook c USING (m)
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY sq, code) AS rn
    FROM cdist
  ) WHERE rn = 1
),
dtable AS (
  SELECT s.vec_id AS query_id, s.m, c.code, {l2sq_duck('s.sub', 'c.cent')} AS qd
  FROM subs s JOIN codebook c USING (m)
  WHERE s.vec_id IN ({_QIDS})
),
adc AS (
  SELECT d.query_id, co.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.qd ORDER BY d.m)),
                     (acc, v) -> acc + v) AS adc
  FROM codes co JOIN dtable d ON co.m = d.m AND co.code = d.code
  WHERE co.vec_id != d.query_id
  GROUP BY d.query_id, co.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {PQ_RERANK}
),
scored AS (
  SELECT cand.query_id, cand.vec_id, {cosine_duck('e.embedding', 'q.embedding')} AS cosine
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN embeddings q ON q.vec_id = cand.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_pq",
    oracle=PQ_ORACLE,
    description="product-quantization ANN (Jégou et al. 2011): M=4×16-code "
    "sampled codebook, corpus stored as 4 codes/vector (32× compression), "
    "broadcast ADC distance table, exact cosine re-rank of the 50 closest "
    "— the code-scan-not-vector-scan path for 100 TB embedding search",
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    subs = sim.pq_subvectors(emb, PQ_M, PQ_SUBDIM)
    codebook = (
        subs.filter(F.col("vec_id") < PQ_KPRIME)
        .select("m", F.col("vec_id").alias("code"), F.col("sub").alias("cent"))
    )
    codes = sim.pq_encode(subs, codebook)
    dtable = (
        subs.filter(F.col("vec_id").isin(QUERY_IDS))
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "code", F.expr(sim.l2sq_spark("sub", "cent")).alias("qd"))
    )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return sim.pq_adc_topk(codes, dtable, emb, queries, K, PQ_RERANK)


# --- Johnson–Lindenstrauss random projection ---
# Projected cosine vs exact cosine side by side: the query returns BOTH,
# so the oracle pins the projection math and the result quantifies the
# JL distortion the pre-filter stage would trade for a 4× cheaper scan
# (R=16 of D=64 dims). Weights reuse the md5 scheme under a distinct
# salt; projections fold in row order (engine-stable bits).

RP_DIM = 16


def rp_weight_duck(row: str, dim: str) -> str:
    h = (
        f"CAST('0x' || substring(md5(concat('rproj', CAST({row} AS VARCHAR), '_', "
        f"CAST({dim} AS VARCHAR))), 1, 15) AS BIGINT)"
    )
    return f"(({h} % 2001) - 1000) / 1000.0e0"


RP_ORACLE = f"""
WITH mat AS (
  SELECT r AS row_idx,
         list_transform(range(1, {DIMS + 1}), d -> {rp_weight_duck('r', 'd')}) AS w
  FROM range(0, {RP_DIM}) t(r)
),
proj AS (
  SELECT vec_id, embedding, list(dd ORDER BY row_idx) AS proj FROM (
    SELECT e.vec_id, e.embedding, m.row_idx, {dot_duck('e.embedding', 'm.w')} AS dd
    FROM embeddings e CROSS JOIN mat m
  ) GROUP BY vec_id, embedding
),
scored AS (
  SELECT q.vec_id AS query_id, p.vec_id,
         {cosine_duck('p.proj', 'q.proj')} AS cosine_proj,
         {cosine_duck('p.embedding', 'q.embedding')} AS cosine_exact
  FROM proj p CROSS JOIN (SELECT * FROM proj WHERE vec_id IN ({_QIDS})) q
  WHERE p.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine_proj, cosine_exact,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine_proj DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_proj, cosine_exact, rank
FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_random_projection",
    oracle=RP_ORACLE,
    description="Johnson–Lindenstrauss random projection (64→16 dims, "
    "deterministic md5 directions): top-k by PROJECTED cosine with the "
    "exact cosine alongside — the cheap pre-filter stage of a two-stage "
    "similarity scan, distortion directly visible in the result",
)
def sim_topk_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    mat = sim.rp_matrix(spark, RP_DIM, DIMS)
    proj = sim.rp_project(emb, mat)
    q = (
        proj.filter(F.col("vec_id").isin(QUERY_IDS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            F.col("proj").alias("q_proj"),
        )
    )
    scored = (
        proj.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(sim.cosine_spark("proj", "q_proj")).alias("cosine_proj"),
            F.expr(sim.cosine_spark("embedding", "q_embedding")).alias("cosine_exact"),
        )
    )
    from pyspark.sql import Window as W

    wr = W.partitionBy("query_id").orderBy(F.col("cosine_proj").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= K)
    )


# --- IVF-PQ composite (the FAISS-style production ANN architecture) ---
# Both index halves exist above; this is their composition, which is
# what a real 100 TB vector store runs: k-means cells ROUTE each query
# to ~n/K candidates, PQ codes RANK those candidates from 4 bytes each
# (no raw-vector reads), and only the top `IVFPQ_RERANK` survivors are
# re-scored against real embeddings. Classic IVFPQ quantizes residuals
# (v − centroid) for tighter codes; this variant codes raw vectors so
# the oracle replays byte-for-byte — the routing/rank/rerank plan shape
# (and every join) is identical either way.

IVFPQ_RERANK = 30

IVFPQ_ORACLE = f"""{_km_chain(_KM_LONG_DUCK, md5_int_duck("CAST(vec_id AS VARCHAR)", salt="kmeans"))},
cells AS (SELECT vec_id, cluster_id FROM a2),
subs AS (
  SELECT vec_id, m, embedding[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS sub
  FROM embeddings CROSS JOIN range(0, {PQ_M}) t(m)
),
codebook AS (SELECT m, vec_id AS code, sub AS cent FROM subs WHERE vec_id < {PQ_KPRIME}),
cdist AS (
  SELECT s.vec_id, s.m, c.code, {l2sq_duck('s.sub', 'c.cent')} AS sq
  FROM subs s JOIN codebook c USING (m)
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY sq, code) AS rn
    FROM cdist
  ) WHERE rn = 1
),
dtable AS (
  SELECT s.vec_id AS query_id, s.m, c.code, {l2sq_duck('s.sub', 'c.cent')} AS qd
  FROM subs s JOIN codebook c USING (m)
  WHERE s.vec_id IN ({_QIDS})
),
cand0 AS (
  SELECT q.vec_id AS query_id, v.vec_id
  FROM cells v JOIN cells q ON v.cluster_id = q.cluster_id
  WHERE q.vec_id IN ({_QIDS}) AND v.vec_id != q.vec_id
),
adc AS (
  SELECT c0.query_id, c0.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.qd ORDER BY d.m)),
                     (acc, v) -> acc + v) AS adc
  FROM cand0 c0
  JOIN codes co ON co.vec_id = c0.vec_id
  JOIN dtable d ON d.query_id = c0.query_id AND d.m = co.m AND d.code = co.code
  GROUP BY c0.query_id, c0.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {IVFPQ_RERANK}
),
scored AS (
  SELECT cand.query_id, cand.vec_id, {cosine_duck('e.embedding', 'q.embedding')} AS cosine
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN embeddings q ON q.vec_id = cand.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_topk_ivfpq",
    oracle=IVFPQ_ORACLE,
    description="IVF-PQ composite (the FAISS-style production "
    "architecture): trained k-means cells route each query to ~n/K "
    "candidates, PQ codes ADC-rank them from 4 bytes/vector, exact "
    "cosine re-ranks the top 30 — route/rank/rerank with no raw-vector "
    "scan outside the rerank budget",
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    emb = load_table(spark, sf_dir, "embeddings")
    cells = spark.sql(
        _km_chain(_KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"))
        + "\nSELECT vec_id, cluster_id FROM a2"
    )
    subs = sim.pq_subvectors(emb, PQ_M, PQ_SUBDIM)
    codebook = (
        subs.filter(F.col("vec_id") < PQ_KPRIME)
        .select("m", F.col("vec_id").alias("code"), F.col("sub").alias("cent"))
    )
    codes = sim.pq_encode(subs, codebook)
    dtable = (
        subs.filter(F.col("vec_id").isin(QUERY_IDS))
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "code", F.expr(sim.l2sq_spark("sub", "cent")).alias("qd"))
    )
    qcells = (
        cells.filter(F.col("vec_id").isin(QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), "cluster_id")
    )
    cand0 = (
        cells.join(F.broadcast(qcells), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return sim.pq_adc_topk(
        codes, dtable, emb, queries, K, IVFPQ_RERANK, candidates=cand0
    )


# --- int8 embedding quantization (scale/zero-point, per-vector) ---
# The storage/serving compression every vector index applies before PQ:
# asymmetric per-vector linear quantization q = round((v − zp) / s) with
# s = (max − min)/255, zp = min — 4× smaller than float32, dequantized
# error bounded by s/2 per component. round() on doubles is
# half-away-from-zero on BOTH engines (the parity.py lsum contract), and
# the quantized codes are exact integers, so codes, reconstruction, and
# the error bound check are all bit-identical cross-engine.
#
# Scale: pure per-row array math (transform/aggregate inside codegen —
# no UDF, no shuffle except the presentation sample); the codes column
# is what a 100 TB vector lake stores.

QUANT_SAMPLE_MOD = 40


def _quant_spark() -> str:
    return f"""
WITH stats AS (
  SELECT vec_id, embedding,
         aggregate(embedding, CAST('Infinity' AS DOUBLE), (m, x) -> least(m, CAST(x AS DOUBLE))) AS lo,
         aggregate(embedding, CAST('-Infinity' AS DOUBLE), (m, x) -> greatest(m, CAST(x AS DOUBLE))) AS hi
  FROM embeddings WHERE vec_id % {QUANT_SAMPLE_MOD} = 0
),
q AS (
  SELECT vec_id, lo, hi, (hi - lo) / 255.0e0 AS scale,
         transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0e0)) AS BIGINT)) AS codes,
         embedding
  FROM stats
)
SELECT vec_id, scale,
       CAST(aggregate(codes, 0L, (acc, c) -> acc + c) AS BIGINT) AS code_sum,
       CAST(aggregate(codes, 0L, (acc, c) -> CASE WHEN c < 0 OR c > 255 THEN acc + 1 ELSE acc END) AS BIGINT) AS n_out_of_range,
       aggregate(zip_with(codes, embedding, (c, x) -> abs(c * scale + lo - CAST(x AS DOUBLE))),
                 CAST(0.0 AS DOUBLE), (m, e) -> greatest(m, e)) AS max_abs_err,
       aggregate(zip_with(codes, embedding, (c, x) -> abs(c * scale + lo - CAST(x AS DOUBLE))),
                 CAST(0.0 AS DOUBLE), (m, e) -> greatest(m, e)) <= scale / 2.0e0 + 1.0e-12 AS bound_ok
FROM q
"""


def _quant_duck() -> str:
    return f"""
WITH stats AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(CAST('Infinity' AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (m, x) -> least(m, x)) AS lo,
         list_reduce(list_prepend(CAST('-Infinity' AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (m, x) -> greatest(m, x)) AS hi
  FROM embeddings WHERE vec_id % {QUANT_SAMPLE_MOD} = 0
),
q AS (
  SELECT vec_id, lo, hi, (hi - lo) / 255.0e0 AS scale,
         list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - lo) / ((hi - lo) / 255.0e0)) AS BIGINT)) AS codes,
         embedding
  FROM stats
),
errs AS (
  SELECT vec_id, scale, codes,
         list_transform(list_zip(codes, embedding),
                        p -> abs(p[1] * scale + lo - CAST(p[2] AS DOUBLE))) AS es
  FROM q
)
SELECT vec_id, scale,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (acc, c) -> acc + c) AS BIGINT) AS code_sum,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (acc, c) -> CASE WHEN c < 0 OR c > 255 THEN acc + 1 ELSE acc END) AS BIGINT) AS n_out_of_range,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), es), (m, e) -> greatest(m, e)) AS max_abs_err,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), es), (m, e) -> greatest(m, e)) <= scale / 2.0e0 + 1.0e-12 AS bound_ok
FROM errs
"""


@register(
    "embedding_quantize_int8",
    oracle=_quant_duck(),
    description="per-vector int8 linear quantization (scale/zero-point): "
    "codes, their checksum, range check, and the dequantized max-error "
    f"bound (≤ scale/2), sampled 1-in-{QUANT_SAMPLE_MOD} vectors — pure "
    "per-row array math inside codegen, no UDF; round() is "
    "half-away-from-zero on both engines so codes are bit-identical",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_quant_spark())


# --- centroid silhouette (clustering-quality QA) ---
# The simplified (centroid-based) silhouette over the labeled embedding
# corpus: a(v) = ‖v − c_own‖, b(v) = min over other labels ‖v − c_l‖,
# sil(v) = (b − a)/max(a, b) — the standard "are these clusters real"
# audit run after any clustering/labeling stage (full silhouette is
# all-pairs; the centroid form is the O(n·k) one used at scale, e.g.
# sklearn's davies-bouldin cousin). Parity: centroids are decimal-exact
# per-dim averages; every distance is the sequential index-order fold
# (bit-identical both engines); one final min/division per vector; the
# per-label mean silhouette is decimal-routed.
# Scale: centroid table is k·dims values → broadcast; the vector×centroid
# "join" is a k-way fanout, not a shuffle; one label rollup at the end.


def _silhouette_sql(long_explode: str, l2sq, list_build: str) -> str:
    return f"""
WITH long_vecs AS ({long_explode}),
lab AS (SELECT vec_id, label FROM embeddings),
cent_long AS (
  SELECT l.label, lv.dim,
         CAST(sum(CAST(lv.val AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS cv
  FROM long_vecs lv JOIN lab l ON l.vec_id = lv.vec_id
  GROUP BY l.label, lv.dim
),
cent AS (SELECT label, {list_build} AS cvec FROM cent_long GROUP BY label),
dists AS (
  SELECT e.vec_id, e.label AS own_label, c.label AS cand_label,
         sqrt({l2sq("e.embedding", "c.cvec")}) AS dist
  FROM embeddings e CROSS JOIN cent c
),
ab AS (
  SELECT vec_id, own_label,
         min(CASE WHEN cand_label = own_label THEN dist END) AS a,
         min(CASE WHEN cand_label <> own_label THEN dist END) AS b
  FROM dists GROUP BY vec_id, own_label
),
sil AS (
  SELECT own_label AS label,
         CASE WHEN a > b THEN (b - a) / a
              WHEN b > a THEN (b - a) / b
              ELSE 0.0e0 END AS s
  FROM ab
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(CAST(sum(CAST(s AS DECIMAL(38,6))) AS STRING) AS DOUBLE) / count(*)
         AS mean_silhouette
FROM sil
GROUP BY label
"""


@register(
    "embedding_silhouette",
    oracle=_silhouette_sql(
        _KM_LONG_DUCK, l2sq_duck, "list(cv ORDER BY dim)"
    ).replace("AS STRING", "AS VARCHAR"),
    description="centroid silhouette per label: (b−a)/max(a,b) against "
    "decimal-exact per-label centroids — the O(n·k) clustering-quality "
    "audit; centroid table broadcasts (k·dims values), distances are "
    "sequential index-order folds (bit-identical engines), per-label "
    "mean decimal-routed; no shuffle except the label rollup",
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.similarity import l2sq_spark

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        _silhouette_sql(
            _KM_LONG_SPARK,
            l2sq_spark,
            "transform(array_sort(collect_list(struct(dim, cv))), s -> s.cv)",
        )
    )


# --- MIPS via norm augmentation (asymmetric transform) ---
# Recommender / retrieval scoring ranks by INNER PRODUCT, not cosine —
# and inner product admits no direct LSH (it is not a metric: a vector
# can out-score the query's own self-match). The standard reduction
# (Bachrach et al. 2014; Shrivastava-Li 2014): with M = max ‖x‖ over
# the corpus, augment corpus vectors x̂ = [x; √(M²−‖x‖²)] (all lifted
# to norm exactly M) and queries q̂ = [q; 0]; then cos(q̂, x̂) =
# (q·x)/(‖q‖·M) is MONOTONE in q·x, so the engine's existing
# hyperplane-LSH cosine machinery answers MIPS: bucket the AUGMENTED
# vectors on 65-dim planes, candidate equi-join per bucket, exact
# rerank by the raw 64-dim dot product. Determinism: ‖x‖² and M² are
# the shared left-fold dot kernel (engine-identical), the lift
# √(M²−‖x‖²) is one shared double chain (exactly 0 for the max-norm
# vector), plane weights are the md5 scheme over dims 1..65.
#
# Scale: the corpus-side norm max is a 1-row aggregate (map-side
# combinable); the bucket equi-join replaces the n×q cross product
# exactly as sim_topk_ivf does — the augmentation adds one scan-level
# column, no extra shuffle.

MIPS_ORACLE = f"""
WITH nsq AS (
  SELECT vec_id, embedding, {dot_duck('embedding', 'embedding')} AS nsq
  FROM embeddings
),
m2 AS (SELECT max(nsq) AS m2 FROM nsq),
aug AS (
  SELECT n.vec_id,
         list_transform(n.embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_concat(list_transform(n.embedding, x -> CAST(x AS DOUBLE)),
                     [CAST(sqrt(m2.m2 - n.nsq) AS DOUBLE)]) AS va
  FROM nsq n CROSS JOIN m2
),
planes AS (
  SELECT p AS plane_idx,
         list_transform(range(1, {DIMS + 2}), d -> {plane_weight_duck('p', 'd')}) AS w
  FROM range(0, {NUM_PLANES}) t(p)
),
eb AS (
  SELECT a.vec_id, a.v,
         sum(CASE WHEN {dot_duck('a.va', 'pl.w')} > 0 THEN 1 ELSE 0 END
             * CAST(pow(2, pl.plane_idx) AS BIGINT)) AS bucket
  FROM aug a CROSS JOIN planes pl
  GROUP BY a.vec_id, a.v
),
qb AS (
  SELECT a.vec_id AS query_id, a.v AS qv,
         sum(CASE WHEN {dot_duck('qa', 'pl.w')} > 0 THEN 1 ELSE 0 END
             * CAST(pow(2, pl.plane_idx) AS BIGINT)) AS bucket
  FROM (SELECT vec_id, v, list_concat(v, [CAST(0.0 AS DOUBLE)]) AS qa
        FROM aug WHERE vec_id IN ({_QIDS})) a
  CROSS JOIN planes pl
  GROUP BY a.vec_id, a.v
),
scored AS (
  SELECT qb.query_id, eb.vec_id, {dot_duck('eb.v', 'qb.qv')} AS dot
  FROM eb JOIN qb USING (bucket)
  WHERE eb.vec_id != qb.query_id
),
ranked AS (
  SELECT query_id, vec_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, dot, rank FROM ranked WHERE rank <= {K}
"""


@register(
    "sim_mips_norm_augment",
    oracle=MIPS_ORACLE,
    description="maximum-inner-product top-k via the norm-augmentation "
    "reduction (x̂=[x;√(M²−‖x‖²)], q̂=[q;0] makes augmented cosine "
    "monotone in q·x): 65-dim hyperplane LSH buckets over the lifted "
    "vectors, bucket equi-join candidates, exact raw-dot rerank — "
    "the MIPS path a recommender scorer needs, on the engine's "
    "existing cosine-ANN machinery; 1-row norm-max broadcast, no "
    "extra shuffle over sim_topk_ivf",
)
def sim_mips_norm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    nsq = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr(sim.dot_spark("embedding", "embedding")).alias("nsq"),
    )
    m2 = nsq.agg(F.max("nsq").alias("m2"))
    aug = nsq.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "v",
        F.expr("concat(v, array(CAST(sqrt(m2 - nsq) AS DOUBLE)))").alias("va"),
    )
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS + 1)
    eb = sim.bucketize(aug, planes, id_col="vec_id", vec_col="va").join(
        aug.select("vec_id", "v"), "vec_id"
    )
    q = aug.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.expr("concat(v, array(CAST(0.0 AS DOUBLE)))").alias("qa"),
    )
    qb = sim.bucketize(q, planes, id_col="query_id", vec_col="qa").join(
        q.select("query_id", "qv"), "query_id"
    )
    scored = (
        eb.select("vec_id", "v", "bucket")
        .join(F.broadcast(qb.select("query_id", "qv", "bucket")), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(sim.dot_spark("v", "qv")).alias("dot"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= K)
    )


# --- top principal component via fixed-point power iteration ---
# The missing primitive under the IVF/PQ family: PCA's leading
# eigenvector (for whitening, projection ordering, OPQ-style rotations).
# Mean-centered second-moment matrix in EXACT INTEGERS — quantize
# e_q = round(e·1e4), then n²·Cov = n·S2 − S1·S1ᵀ entry-wise (same
# eigenvectors as Cov; no rational arithmetic anywhere) — followed by
# PCA_ITERS rounds of power iteration in fixed-point integer arithmetic:
#   y = M'·v;   v' = sign(y) · (|y|·VSCALE div max|y|)     (L∞ norm)
# where M' = sign(M)·(|M| div g), g = max|M| div 1e6 + 1 bounds the
# matvec at 64·1e6·VSCALE ≈ 6.4e16 < 2⁶³, and the normalizing division
# is exact int128 floor division (Spark DECIMAL(38,0) div ≡ DuckDB
# HUGEINT //; both truncate toward zero on negatives — probed). The
# sign of the returned vector is canonicalized positive at the smallest
# nonzero dimension. Bit-identical across engines at any parallelism.
#
# Scale: the Spark moment build is ONE posexplode (64× fanout) + one
# 64-column map-side-combinable aggregate — partial state is 64×65
# integers per partition, the shuffle carries partials, never data.
# Everything after is DIM²-bounded (4096-row matrix, 64-row vector;
# broadcast joins; all power rounds run in one job). Integer
# exactness holds to n ≈ 2e5 vectors at this quantization (n·S2 ≤
# ~1.4e18); beyond that, route the matrix build through DECIMAL(38,0).
# The oracle builds the same matrix by self-join and unrolls the same
# recurrence (MATERIALIZED — 8 references would inline the build 8×).

PCA_ITERS = 8
PCA_QUANT = "1.0e4"
PCA_MDIV = 1_000_000
PCA_VSCALE = 1_000_000_000


def _pca_oracle() -> str:
    parts = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * {PCA_QUANT}) AS BIGINT)) AS eq
  FROM embeddings
)""",
        f"ex AS MATERIALIZED (SELECT vec_id, unnest(range(0, {DIMS})) AS i, unnest(eq) AS e FROM q)",
        "s1 AS (SELECT i, CAST(sum(e) AS BIGINT) AS s1 FROM ex GROUP BY i)",
        """s2 AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.e * b.e) AS BIGINT) AS s2
  FROM ex a JOIN ex b ON b.vec_id = a.vec_id GROUP BY 1, 2
)""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)",
        """m AS (
  SELECT s2.i, s2.j, nn.n * s2.s2 - sa.s1 * sb.s1 AS m
  FROM s2 JOIN s1 sa ON sa.i = s2.i JOIN s1 sb ON sb.i = s2.j CROSS JOIN nn
)""",
        f"mg AS (SELECT i, j, m, (max(abs(m)) OVER () // {PCA_MDIV}) + 1 AS g FROM m)",
        "mp AS MATERIALIZED (SELECT i, j, CAST(sign(m) AS BIGINT) * (abs(m) // g) AS mp FROM mg)",
        f"v0 AS (SELECT unnest(range(0, {DIMS})) AS j, CAST({PCA_VSCALE} AS BIGINT) AS v)",
    ]
    for k in range(1, PCA_ITERS + 1):
        parts.append(
            f"""y{k} AS (
  SELECT i, y, max(abs(y)) OVER () AS mx FROM (
    SELECT mp.i, CAST(sum(mp.mp * v.v) AS BIGINT) AS y
    FROM mp JOIN v{k - 1} v ON v.j = mp.j GROUP BY mp.i
  )
)"""
        )
        mat = " MATERIALIZED" if k == PCA_ITERS else ""
        parts.append(
            f"""v{k} AS{mat} (
  SELECT i AS j,
         CAST(sign(y) AS BIGINT)
         * CAST((CAST(abs(y) AS HUGEINT) * {PCA_VSCALE})
                // CAST(mx AS HUGEINT) AS BIGINT) AS v
  FROM y{k}
)"""
        )
    last = f"v{PCA_ITERS}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
sgn AS (
  SELECT CAST(sign(v) AS BIGINT) AS s FROM {last}
  WHERE v <> 0 ORDER BY j LIMIT 1
)
SELECT CAST({last}.j AS INT) AS dim, {last}.v * sgn.s AS v_fp
FROM {last} CROSS JOIN sgn"""
    )


@register(
    "embedding_pca_power",
    oracle=_pca_oracle(),
    description=f"leading principal component of the embedding table via "
    f"{PCA_ITERS} fixed-point integer power iterations on the exact "
    "integer mean-centered moment matrix n·S2 − S1·S1ᵀ (quantized 1e4): "
    "L∞-normalized matvecs with int128-exact division, sign "
    "canonicalized at the smallest nonzero dim — bit-identical across "
    "engines; ONE 64-fanout explode + a 64-column map-side-combinable "
    "aggregate builds the matrix, everything after is DIM²-bounded",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    q = spark.sql(
        "SELECT vec_id, transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {PCA_QUANT}) AS BIGINT)) AS eq "
        "FROM embeddings"
    )
    ex = q.select(F.posexplode("eq").alias("i", "eqi"), "eq")
    srow = ex.groupBy("i").agg(
        F.sum("eqi").cast("long").alias("s1i"),
        *[
            F.sum(F.col("eqi") * F.element_at("eq", j + 1))
            .cast("long")
            .alias(f"s2_{j}")
            for j in range(DIMS)
        ],
    )
    stack = (
        f"stack({DIMS}, "
        + ", ".join(f"{j}, s2_{j}" for j in range(DIMS))
        + ") AS (j, s2)"
    )
    s2 = srow.select("i", "s1i", F.expr(stack))
    s1 = srow.select(F.col("i").alias("j"), F.col("s1i").alias("s1j"))
    cnt = q.agg(F.count("*").cast("long").alias("n"))
    m = (
        s2.join(F.broadcast(s1), "j")
        .crossJoin(F.broadcast(cnt))
        .select(
            "i", "j",
            (F.col("n") * F.col("s2") - F.col("s1i") * F.col("s1j")).alias("m"),
        )
    )
    g = m.agg(F.expr(f"CAST(max(abs(m)) div {PCA_MDIV} AS BIGINT) + 1L").alias("g"))
    mp = cut(  # loop: loop-invariant matrix
        m.crossJoin(F.broadcast(g)).select(
            "i", "j",
            F.expr("CAST(sign(m) AS BIGINT) * (abs(m) div g)").alias("mp"),
        ),
        eager=True,
    )
    v = spark.range(DIMS).select(
        F.col("id").cast("int").alias("j"), F.lit(PCA_VSCALE).cast("long").alias("v")
    )
    # One job for all 8 matvec rounds (round-15, the LPA lesson): the
    # only non-linear consumption in the recurrence was y feeding BOTH
    # the global max(|y|) aggregate and the scaling projection; a
    # whole-frame window computes mx in the same pass (y is DIM = 64
    # rows — the single-partition window is a non-issue), making the
    # recurrence linear, so the per-round eager checkpoint jobs
    # (~0.3-0.6 s each, 8 of them) collapse into one DAG where every
    # round's matvec reads the checkpointed mp blocks directly. Final v
    # is cut once (lazy) because sgn + the output consume it twice.
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    for _ in range(PCA_ITERS):
        y = (
            mp.join(v, mp["j"] == v["j"])
            .groupBy("i")
            .agg(F.sum(F.col("mp") * F.col("v")).cast("long").alias("y"))
        )
        v = y.withColumn(
            "mx", F.max(F.abs(F.col("y"))).over(w_all).cast("long")
        ).select(
            F.col("i").alias("j"),
            F.expr(
                "CAST(sign(y) AS BIGINT) * CAST((CAST(abs(y) AS DECIMAL(38,0))"
                f" * {PCA_VSCALE}) div CAST(mx AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("v"),
        )
    # measured: dropping it lost 10 of 11 interleaved sf0.1 pairs,
    # median 2.31 -> 2.70 s
    v = cut(v)
    sgn = (
        v.where(F.col("v") != 0)
        .orderBy("j")
        .limit(1)
        .select(F.expr("CAST(sign(v) AS BIGINT)").alias("s"))
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .select(
            F.col("j").cast("int").alias("dim"),
            (F.col("v") * F.col("s")).cast("long").alias("v_fp"),
        )
    )


# --- SemDeDup: cluster-then-dedup semantic pruning ---
# Abbas et al. 2023: exact/MinHash dedup misses SEMANTIC duplicates
# (same content, different words); all-pairs cosine over a corpus is
# quadratic. SemDeDup's compromise — cluster embeddings (k-means,
# reusing the deterministic trained-centroid chain from sim_kmeans_ivf),
# then compare pairs only WITHIN a cluster and drop any vector whose
# cosine with a lower-id cluster-mate exceeds θ. Per cluster: member
# count, drops, survivors — the corpus-pruning decision table.
# Parity: the k-means chain is decimal-routed (bit-identical
# assignments), cosines fold in index order seeded 0.0 on both engines
# (the dot_duck idiom), θ-comparisons on engine-identical doubles, and
# the drop rule (ANY lower-id mate ≥ θ) is order-free. Bit-identical.
#
# Scale: the pair join is per-cluster (the entire point — n²/K per
# cluster instead of n²), keyed on cluster_id with AQE skew handling;
# at 100 TB raise K so clusters stay bounded and band the within-
# cluster pairs by an LSH bucket as sim_topk_ivf does.

# The synthetic embeddings contain no true near-duplicates (measured
# max pairwise cosine 0.513 at sf0.01), so θ sits at the ~99.9th
# percentile of the pair-cosine distribution to exercise a NONZERO
# prune decision; production θ is ~0.95+.
SEMDEDUP_THETA = "0.35e0"


def _semdedup_sql(
    long_explode: str, h_vec: str, cosine_fn, collapse: bool = True
) -> str:
    # EMBEDDING-CLASS COLLAPSE (r10, VERDICT item 4 — the round's third
    # duplicate-collapse application after JW name-classes and DBSCAN
    # weighted coords): the within-cluster pair join is the paper's
    # n²/K, and on a corpus with repeated vectors (the replicated
    # .benchdata scale-ups are the extreme: every vector ×10 bit-
    # identically) the pair count multiplies by the duplication²
    # factor. Members therefore aggregate per DISTINCT (cluster,
    # embedding) into (min_id, cnt) classes FIRST; the cosine pair
    # join runs over classes only. Equivalence to the pairwise rule
    # (y dropped iff ∃x<y in-cluster with cos ≥ θ) is exact:
    #   - non-min copies of a class are dropped by their own class's
    #     min copy iff cos(e,e) ≥ θ — and cos(e,e) is ≈1 (or NaN for
    #     a zero vector, which both engines order ABOVE any number),
    #     so the predicate is always true at θ < 1; the CASE keeps
    #     the formula textually total anyway;
    #   - a class's min copy is dropped iff some OTHER class with an
    #     id below it (⟺ min(E') < min(E)) is θ-similar — the class
    #     pair join with x.min_id < y.min_id.
    # tests/test_vectors.py proves collapsed ≡ pairwise at sf0.01.
    cls = f"""
cls AS (
  SELECT cluster_id, embedding, min(vec_id) AS min_id,
         CAST(count(*) AS BIGINT) AS cnt
  FROM mem GROUP BY cluster_id, embedding
),
cross_drops AS (
  SELECT DISTINCT y.cluster_id, y.min_id
  FROM cls x JOIN cls y
    ON y.cluster_id = x.cluster_id AND x.min_id < y.min_id
  WHERE {cosine_fn('x.embedding', 'y.embedding')} >= {SEMDEDUP_THETA}
),
per_cls AS (
  SELECT cluster_id,
         CAST(sum(cnt) AS BIGINT) AS n_members,
         CAST(sum(CASE WHEN cnt > 1
                        AND {cosine_fn('embedding', 'embedding')}
                            >= {SEMDEDUP_THETA}
                       THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_dup_drops
  FROM cls GROUP BY cluster_id
),
cd AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_min_drops
  FROM cross_drops GROUP BY cluster_id
)
SELECT p.cluster_id, p.n_members,
       CAST(p.n_dup_drops + coalesce(cd.n_min_drops, 0) AS BIGINT)
         AS n_dropped,
       CAST(p.n_members - p.n_dup_drops - coalesce(cd.n_min_drops, 0)
            AS BIGINT) AS n_kept
FROM per_cls p LEFT JOIN cd ON cd.cluster_id = p.cluster_id
"""
    pairwise = f"""
drops AS (
  SELECT DISTINCT y.cluster_id, y.vec_id
  FROM mem x JOIN mem y
    ON y.cluster_id = x.cluster_id AND y.vec_id > x.vec_id
  WHERE {cosine_fn('x.embedding', 'y.embedding')} >= {SEMDEDUP_THETA}
)
SELECT m.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM mem m
LEFT JOIN drops d ON d.cluster_id = m.cluster_id AND d.vec_id = m.vec_id
GROUP BY m.cluster_id
"""
    return f"""
{_km_chain(long_explode, h_vec)},
mem AS (
  SELECT a.vec_id, a.cluster_id, e.embedding
  FROM (SELECT DISTINCT vec_id, cluster_id FROM a2) a
  JOIN embeddings e ON e.vec_id = a.vec_id
),
{cls if collapse else pairwise}"""


@register(
    "curation_semdedup",
    oracle=_semdedup_sql(
        _KM_LONG_DUCK,
        md5_int_duck("CAST(vec_id AS VARCHAR)", salt="kmeans"),
        cosine_duck,
    ),
    description=f"SemDeDup semantic pruning: deterministic k-means "
    f"({KM_K} cells, the sim_kmeans_ivf chain) then within-cluster "
    f"cosine ≥ {SEMDEDUP_THETA.rstrip('e0')} drop-lower-id rule — "
    "per-cluster members/drops/survivors; the pair join runs over "
    "DISTINCT (cluster, embedding) classes with multiplicity weights "
    "(r10 — provably ≡ the pairwise rule, immune to duplicated "
    "corpora; n̂²/K on the distinct support), order-free drop rule, "
    "index-ordered cosine folds — bit-identical across engines",
)
def curation_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.similarity import cosine_spark

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(
        _semdedup_sql(
            _KM_LONG_SPARK,
            md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"),
            lambda a, b: cosine_spark(a, b),
        )
    )


# --- ANN recall audit (IVF vs exact, in-engine) ---
# "Measure, don't guess" applied to the ANN index itself: recall@K of
# the hyperplane-LSH IVF path against the exact brute-force top-K, per
# query and summarized — the query an operator runs before trusting
# NUM_PLANES/multi-probe settings on a new embedding corpus (the
# dedup_minhash_estimate_audit of the similarity family; the offline
# tools/ann_recall.py sweep promoted to a first-class oracle-paired
# query). Only IDs are compared — recall is a ratio of exact integers,
# no float output beyond one division.
#
# Scale: the brute-force side is q×n for the FIXED 5-query panel
# (broadcast queries — the exact-baseline cost is the audit's price,
# linear in n, run-once); the IVF side is the bucket equi-join. The
# intersection join is two K-row-per-query tables.


def _recall_audit_sql() -> str:
    return f"""
WITH bf AS ({BRUTE_ORACLE}),
ivf AS ({IVF_ORACLE}),
hits AS (
  SELECT bf.query_id,
         CAST(count(ivf.vec_id) AS BIGINT) AS n_hit
  FROM bf LEFT JOIN ivf
    ON ivf.query_id = bf.query_id AND ivf.vec_id = bf.vec_id
  GROUP BY bf.query_id
)
SELECT query_id, n_hit, CAST({K} AS BIGINT) AS k,
       CAST(n_hit AS DOUBLE) / {K}.0e0 AS recall_at_k
FROM hits
"""


@register(
    "sim_ivf_recall_audit",
    oracle=_recall_audit_sql(),
    description=f"ANN recall@{K} audit of the hyperplane-IVF path vs "
    "the exact brute-force top-K, per query — ID-set intersection of "
    "two K-row-per-query tables (recall = ratio of exact integers); "
    "the measured check an operator runs before trusting plane/probe "
    "settings, promoted from tools/ann_recall.py to an oracle-paired "
    "query",
)
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)
    bf = sim.brute_force_topk(emb, queries, K).select("query_id", "vec_id")
    ivf = sim.ivf_topk(emb, queries, planes, K).select(
        F.col("query_id").alias("i_qid"), F.col("vec_id").alias("i_vid")
    )
    return (
        bf.join(
            ivf,
            (F.col("i_qid") == F.col("query_id")) & (F.col("i_vid") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("i_vid").cast("long").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.lit(K).cast("long").alias("k"),
            (F.col("n_hit").cast("double") / F.lit(float(K))).alias("recall_at_k"),
        )
    )


# --- range (radius) similarity search (wave 23) ---
# Top-k answers "the k nearest whatever their quality"; range search
# answers "EVERYTHING at least τ-similar" — the primitive behind
# near-dup candidate generation and retrieval-with-threshold, and a
# different output contract (result size is data-driven, possibly
# zero). Same 100 TB shape as sim_topk_ivf: deterministic
# random-hyperplane buckets, candidates from the bucket equi-join
# (never the n×q cross product), exact cosine inside the bucket,
# WHERE cosine ≥ τ instead of a rank window (no per-query sort at
# all — cheaper than top-k). Approximation contract is the IVF
# family's: matches outside the probed bucket are missed;
# sim_ivf_recall_audit quantifies that, and the oracle pins the SAME
# algorithm (algorithm parity, not exhaustive parity — the
# bruteforce query is the exact baseline).

RANGE_TAU = 0.2

RANGE_ORACLE = f"""
WITH buckets AS ({_BUCKET_DUCK}),
eb AS (SELECT b.vec_id, e.embedding, b.bucket FROM buckets b JOIN embeddings e USING (vec_id)),
qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM eb WHERE vec_id IN ({_QIDS})),
scored AS (
  SELECT qb.query_id, eb.vec_id, {cosine_duck('eb.embedding', 'qb.qv')} AS cosine
  FROM eb JOIN qb USING (bucket)
  WHERE eb.vec_id != qb.query_id
)
SELECT query_id, vec_id, cosine
FROM scored WHERE cosine >= {RANGE_TAU!r}e0
"""


@register(
    "sim_range_search",
    oracle=RANGE_ORACLE,
    description=f"range (radius) similarity search at cosine ≥ "
    f"{RANGE_TAU}: LSH bucket equi-join + exact in-bucket cosine + a "
    "threshold filter — no rank window, result size data-driven (the "
    "near-dup candidate-generation primitive); same bucket "
    "approximation contract as sim_topk_ivf with the recall audit "
    "quantifying misses",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    planes = sim.hyperplanes(spark, NUM_PLANES, DIMS)
    eb = sim.bucketize(emb, planes)
    qb = sim.bucketize(queries, planes).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
    )
    from posting_lines_spark.operators.similarity import cosine_spark

    return (
        eb.join(qb, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(cosine_spark("embedding", "qv")))
        .filter(F.col("cosine") >= RANGE_TAU)
        .select("query_id", "vec_id", "cosine")
    )


# --- hot-cell-balanced kmeans-IVF search (round 14) ---
# The round-14 ANN frontier measurement (SCALE.md, emb_skewclustered)
# named the kmeans-IVF weakness at scale: probes=0 cost is the QUERY'S
# cell size, not n/K — on a Zipf-clustered corpus the head cell holds
# ~23% of all vectors, so in a distributed run ONE task owns the hot
# cell's entire probe×index join while every other task idles. This
# query is the fix, and it is the dedup_lsh_hot_salted pattern applied
# to IVF: the (cell) equi-join between index vectors and probing
# queries runs SALTED (operators/skew.salted_join — index side
# scattered deterministically across salt_n replicas of the query
# side), so per-task width is bounded at |cell|/salt_n while the
# candidate SET — and therefore the top-k — is provably identical.
# The ORACLE is the plain unsalted cell join (the sim_topk_ivf_kmeans
# text), so every driver round re-proves salted ≡ plain on real data.
#
# Scale: query side is K rows (replicated salt_n× = still tiny); index
# side gains one int column; the join shuffles on (cell, salt) instead
# of (cell) — same volume, salt_n× more keys, hot-cell task width
# ÷ salt_n. Output ordering pinned by (cosine DESC, vec_id).

IVF_SALT_N = 8


def sim_topk_ivf_hotsplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from posting_lines_spark.operators.skew import salted_join

    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    assign = spark.sql(
        f"""{_km_chain(_KM_LONG_SPARK, md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans"))}
SELECT vec_id, cluster_id FROM a2"""
    )
    emb = spark.table("embeddings").select("vec_id", "embedding")
    eb = assign.join(emb, "vec_id")
    qb = eb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "cluster_id",
    )
    cand = salted_join(eb, qb, "cluster_id", salt_n=IVF_SALT_N).filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.withColumn("cosine", F.expr(sim.cosine_spark("embedding", "qv")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= K)
        .select("query_id", "vec_id", "cosine", "rank")
    )


register(
    "sim_topk_ivf_hotsplit",
    oracle=_kmeans_search_sql(
        _KM_LONG_DUCK,
        md5_int_duck("CAST(vec_id AS VARCHAR)", salt="kmeans"),
        cosine_duck,
    ),
    description="hot-cell-BALANCED kmeans-IVF top-k (the fix for the "
    "round-14 frontier finding that probes=0 cost is the query's cell "
    "size): the probe×index cell join runs salted "
    f"(salt_n={IVF_SALT_N}, index side scattered deterministically, "
    "query side replicated) so one hot cell splits across salt_n tasks "
    "— per-task width |cell|/salt_n — while the candidate set and "
    "top-k are identical; the oracle is the PLAIN unsalted cell join "
    "(the sim_topk_ivf_kmeans text), so each driver round re-proves "
    "salted ≡ plain; same train→index→search chain otherwise",
)(sim_topk_ivf_hotsplit)
