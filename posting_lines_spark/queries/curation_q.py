"""Corpus-curation queries — the operations a large-scale training-data
pipeline runs AFTER dedup signals exist: materialize the deduplicated
corpus, sample it deterministically per stratum, pack it to a token
budget, and extract a document-frequency vocabulary.

Everything is hash-based and deterministic (functions/hashing.py), so
each query has an exact DuckDB oracle — no RNG state anywhere.

Scale notes: sampling and budget-packing are one scan + one window/agg
each (shuffle on the stratum key only); the survivor corpus is an
anti-join of the corpus against the drop list produced by connected
components. The drop list is NOT hinted broadcast: at 100 TB a dup rate
of a few percent is billions of keys and a forced broadcast OOMs the
executors. AQE picks broadcast when the measured size allows; for the
shuffle case the bloom pre-filter (sketch_q.bloom_prefilter) cuts the
fact-side shuffle volume before the exact anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import md5_int_duck, md5_int_spark
from posting_lines_spark.operators import graph
from posting_lines_spark.queries import register
from posting_lines_spark.queries.dedup_q import NEAR_BASE_DUCK, NEAR_BASE_SPARK
from posting_lines_spark.queries.graph_q import _PAIRS_DUCK, _spark_pairs
from posting_lines_spark.sources import load_table

# --- deduplicated corpus (the end of the dedup story) ---

SURVIVORS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, label) AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
drops AS (SELECT node AS doc_id FROM comp WHERE node != component),
base AS ({NEAR_BASE_DUCK})
SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
       (SELECT CAST(count(*) AS BIGINT) FROM drops) AS n_docs_dropped,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens_kept
FROM base
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


@register(
    "corpus_survivors",
    oracle=SURVIVORS_ORACLE,
    description="the deduplicated corpus: near-dup components keep their "
    "min-id survivor, all other members are anti-joined out — the cleaned "
    "dataset a curation pipeline actually ships",
)
def corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spark_pairs registers the `documents` view NEAR_BASE_SPARK reads
    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    base = spark.sql(NEAR_BASE_SPARK)
    # no broadcast hint: the drop list is unbounded at scale (see module
    # docstring) — AQE broadcasts when it measures small, shuffles when not
    kept = base.join(drops, "doc_id", "left_anti")
    stats = kept.agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(F.size(F.split("text", " ")).cast("long")).cast("long").alias("total_tokens_kept"),
    )
    dropped = drops.agg(F.count(F.lit(1)).alias("n_docs_dropped"))
    return stats.crossJoin(dropped).select(
        "n_docs_kept", "n_docs_dropped", "total_tokens_kept"
    )


@register(
    "corpus_survivors_bloom",
    oracle=SURVIVORS_ORACLE,
    description="corpus_survivors through the documented 100 TB shuffle "
    "path: the drop list builds an 8 KiB bloom bitset; corpus rows that "
    "MISS it are definite keeps (map-only, never shuffled), only the "
    "maybe-dropped rows (true drops + false positives) go through the "
    "exact anti-join. Same oracle as corpus_survivors — the composition "
    "is provably lossless because blooms have no false negatives",
)
def corpus_survivors_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.queries.sketch_q import bloom_bitset, bloom_probe

    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    base = spark.sql(NEAR_BASE_SPARK)
    words = bloom_bitset(drops, "doc_id")
    probed = bloom_probe(base, "doc_id", words)
    definite_keeps = probed.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    maybe_dropped = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    kept = definite_keeps.unionByName(maybe_dropped.join(drops, "doc_id", "left_anti"))
    stats = kept.agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(F.size(F.split("text", " ")).cast("long")).cast("long").alias("total_tokens_kept"),
    )
    dropped = drops.agg(F.count(F.lit(1)).alias("n_docs_dropped"))
    return stats.crossJoin(dropped).select(
        "n_docs_kept", "n_docs_dropped", "total_tokens_kept"
    )


# --- deterministic stratified sampling ---

def _sample_sql(h_source: str, h_doc: str) -> str:
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN {h_doc} % 1000 < 100 + ({h_source} % 400) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(100 + ({h_source} % 400) AS BIGINT) AS keep_per_mille
FROM documents
GROUP BY source, 100 + ({h_source} % 400)
"""


SAMPLE_ORACLE = _sample_sql(
    md5_int_duck("source", salt="rate"),
    md5_int_duck("CAST(doc_id AS VARCHAR)", salt="samp"),
)


@register(
    "sample_stratified",
    oracle=SAMPLE_ORACLE,
    description="deterministic stratified sampling: per-source keep rate "
    "derived from a source hash, membership from a doc-id hash — "
    "reproducible sampling with zero RNG state, the scale-safe way to "
    "downsample strata (mirrors hash-mod sampling in curation pipelines)",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _sample_sql(
            md5_int_spark("source", salt="rate"),
            md5_int_spark("CAST(doc_id AS STRING)", salt="samp"),
        )
    )


# --- token-budget packing ---

TOKEN_BUDGET = 10_000

PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_packed,
       CAST(max(cum_tok) AS BIGINT) AS tokens_packed
FROM cum
WHERE cum_tok <= {TOKEN_BUDGET}
GROUP BY source
"""

PACK_SPARK = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_packed,
       CAST(max(cum_tok) AS BIGINT) AS tokens_packed
FROM cum
WHERE cum_tok <= {TOKEN_BUDGET}
GROUP BY source
"""


@register(
    "pack_token_budget",
    oracle=PACK_ORACLE,
    description="token-budget packing: running token count per stratum "
    "(deterministic doc order), cut at the budget — how curation pipelines "
    "fill a fixed training-token allocation per source",
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(PACK_SPARK)


# --- benchmark decontamination ---
# Training corpora are scrubbed of documents that overlap evaluation
# sets (n-gram decontamination, à la GPT-3 appendix C): any training doc
# sharing a k-gram with the eval set is flagged. The eval set here is
# the shingle set of docs 0-4 (deterministic stand-in for a benchmark);
# at scale the eval shingle table is tiny and broadcast.

# real pipelines use 13-grams; this synthetic corpus's short docs need a
# smaller k for any overlap to exist (the mechanics are k-independent)
DECON_K = 3
DECON_EVAL_MAX_ID = 4


def _decon_sql(shingle_expr: str) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, {shingle_expr} AS shingle FROM documents
  )
),
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id <= {DECON_EVAL_MAX_ID}
),
hits AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams_hit
  FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
  WHERE s.doc_id > {DECON_EVAL_MAX_ID}
  GROUP BY s.doc_id
)
SELECT doc_id, n_eval_grams_hit FROM hits
"""


from posting_lines_spark.queries.dedup_q import shingle_sql_duck  # noqa: E402

DECON_ORACLE = _decon_sql(f"unnest({shingle_sql_duck('text', k=DECON_K)})")


@register(
    "curation_decontaminate",
    oracle=DECON_ORACLE,
    description="benchmark decontamination: flag every training doc "
    "sharing a k-gram with the eval set (docs 0-4 stand in for a "
    "benchmark). The eval shingle table is tiny → broadcast semi-join "
    "against the corpus shingle stream; one shuffle for the per-doc "
    "hit count",
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.dedup import shingle_array_spark

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _decon_sql(f"explode({shingle_array_spark('text', k=DECON_K)})")
    )


# --- temperature-scaled mixture weights ---
# The sampling-weight computation for multi-source training mixes
# (alpha-smoothed, alpha = 0.5): w_s ∝ n_s^0.5. sqrt is IEEE-754
# correctly-rounded (bit-identical in both engines, unlike libm
# transcendentals), and the normalizing sum is decimal-routed, so the
# weights are exactly oracle-checkable.

MIX_SQL = """
WITH per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         sqrt(count(*)) AS raw_w
  FROM documents GROUP BY source
),
norm AS (
  SELECT CAST(CAST(sum(CAST(raw_w AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS z,
         CAST(sum(n_docs) AS BIGINT) AS total_docs
  FROM per_source
)
SELECT source, n_docs,
       raw_w / z AS mix_weight,
       raw_w / z * total_docs AS expected_docs
FROM per_source CROSS JOIN norm
"""


@register(
    "curation_mixture_weights",
    oracle=MIX_SQL,
    description="temperature-scaled mixture weights (alpha = 0.5): "
    "per-source sampling weight sqrt(n)/sum(sqrt(n)) — sqrt is IEEE "
    "correctly-rounded (bit-identical cross-engine) and the normalizer "
    "is a decimal-routed sum; one tiny aggregate broadcast back over "
    "the per-source stats",
)
def curation_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(MIX_SQL)


# --- per-domain cap (CommonCrawl-style source throttling) ---
# Web-scale corpora cap documents per domain so boilerplate-heavy hosts
# can't dominate the training mix. Selection is deterministic: rank docs
# within each source by a doc hash and keep the first DOMAIN_CAP.

DOMAIN_CAP = 12

_H_DOC_CAP_SPARK = md5_int_spark("CAST(doc_id AS STRING)", salt="cap")
_H_DOC_CAP_DUCK = md5_int_duck("CAST(doc_id AS VARCHAR)", salt="cap")


def _domain_cap_sql(h_doc: str) -> str:
    return f"""
WITH ranked AS (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY {h_doc}, doc_id)
              AS BIGINT) AS rk
  FROM documents
)
SELECT source, doc_id, rk FROM ranked
WHERE rk <= {DOMAIN_CAP}
"""


@register(
    "curation_domain_cap",
    oracle=_domain_cap_sql(_H_DOC_CAP_DUCK),
    description="per-domain document cap: hash-ordered row_number within "
    "each source, keep the first N — the CommonCrawl-style throttle that "
    "stops one host dominating the mix. One shuffle on source; at scale "
    "the window never materializes more than a partition (and a pre-"
    "aggregation per (source, shard) can bound skewed hosts first)",
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_domain_cap_sql(_H_DOC_CAP_SPARK))


# --- deterministic weighted sampling ---
# Priority sampling: each doc gets priority hash/weight (weight = doc
# length in chars); the K lowest priorities win, so long docs are
# proportionally more likely — the length-weighted mix curation uses for
# token-balanced sampling. Hash-based, zero RNG state, exactly
# replayable in the oracle (double division of identical ints is
# bit-identical cross-engine; no transcendental pow/ln needed).

WEIGHTED_K = 25

_H_DOC_W_SPARK = md5_int_spark("CAST(doc_id AS STRING)", salt="wsamp")
_H_DOC_W_DUCK = md5_int_duck("CAST(doc_id AS VARCHAR)", salt="wsamp")


def _weighted_sql(h_doc: str) -> str:
    return f"""
WITH pri AS (
  SELECT doc_id, source,
         CAST(n_chars AS BIGINT) AS weight,
         CAST({h_doc} AS DOUBLE) / n_chars AS priority
  FROM documents
)
SELECT doc_id, source, weight, priority
FROM pri
ORDER BY priority, doc_id
LIMIT {WEIGHTED_K}
"""


@register(
    "sample_weighted",
    oracle=_weighted_sql(_H_DOC_W_DUCK),
    description="deterministic weighted priority sampling: priority = "
    "doc_hash / weight (weight = doc length), keep the K smallest — "
    "length-proportional sampling with zero RNG state. "
    "TakeOrderedAndProject top-k, no global sort",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_weighted_sql(_H_DOC_W_SPARK))


# --- overlapping token-window chunking ---
# Training pipelines split long documents into fixed-size token windows
# with overlap (context packing / retrieval chunking). Chunk boundaries
# are pure integer math; the chunk digest proves the sliced text itself
# matches across engines, not just the counts.

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def _n_chunks(n_tok: str) -> str:
    # 1 + ceil(max(n_tok - size, 0) / stride), via floor((x + stride-1)/stride)
    return (
        f"1 + CAST(floor((greatest({n_tok} - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE - 1}.0e0)"
        f" / {CHUNK_STRIDE}.0e0) AS BIGINT)"
    )


CHUNKS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, toks, n_tok,
         unnest(range(0, {_n_chunks('n_tok')})) AS chunk_id
  FROM base
),
sliced AS (
  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         CAST(least({CHUNK_SIZE}, n_tok - chunk_id * {CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens,
         array_to_string(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                              chunk_id * {CHUNK_STRIDE} + least({CHUNK_SIZE}, n_tok - chunk_id * {CHUNK_STRIDE})],
                         ' ') AS chunk_text
  FROM c
)
SELECT doc_id, chunk_id, n_chunk_tokens, md5(chunk_text) AS chunk_digest
FROM sliced
"""

CHUNKS_SPARK = f"""
WITH base AS (
  SELECT doc_id, split(text, ' ') AS toks,
         CAST(size(split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, toks, n_tok,
         explode(sequence(0, {_n_chunks('n_tok')} - 1)) AS chunk_id
  FROM base
),
sliced AS (
  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         CAST(least({CHUNK_SIZE}, n_tok - chunk_id * {CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens,
         array_join(slice(toks, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),
                          CAST(least({CHUNK_SIZE}, n_tok - chunk_id * {CHUNK_STRIDE}) AS INT)),
                    ' ') AS chunk_text
  FROM c
)
SELECT doc_id, chunk_id, n_chunk_tokens, md5(chunk_text) AS chunk_digest
FROM sliced
"""


@register(
    "curation_chunks",
    oracle=CHUNKS_ORACLE,
    description="overlapping token-window chunking (size 32, stride 24): "
    "sequence→explode→slice per doc, md5 digest proves the sliced text "
    "matches. Pure narrow transforms — no shuffle until the output sort; "
    "scales as a map over documents",
)
def curation_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(CHUNKS_SPARK)


# --- document-frequency vocabulary ---

VOCAB_K = 25

VOCAB_ORACLE = f"""
WITH dtoks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
freq AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq FROM dtoks GROUP BY token),
ranked AS (
  SELECT token, doc_freq,
         CAST(row_number() OVER (ORDER BY doc_freq DESC, token) AS BIGINT) AS rnk
  FROM freq
)
SELECT token, doc_freq, rnk FROM ranked WHERE rnk <= {VOCAB_K}
"""


@register(
    "vocab_topk",
    oracle=VOCAB_ORACLE,
    description="document-frequency vocabulary: distinct (doc, token) "
    "explode → df count → global top-k — the df side of tf-idf and the "
    "stop-token detector feeding stop_shingle_cap",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dtoks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    freq = dtoks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    from pyspark.sql import Window as W

    # distributed top-k (TakeOrderedAndProject) BEFORE ranking: the
    # row_number window then runs over k rows, not the whole vocabulary
    topk = freq.orderBy(F.col("doc_freq").desc(), F.col("token")).limit(VOCAB_K)
    return topk.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.col("doc_freq").desc(), F.col("token"))).cast("long"),
    )


# --- training shard assignment ---
# The last step of a curation pipeline: deterministic hash-mod shard
# assignment (no RNG state, reproducible on any engine/cluster) with
# per-shard doc/token totals — what the training job's data loader
# consumes. The hash makes shards statistically balanced regardless of
# doc_id layout; the query output IS the balance audit. At 100 TB this
# is the partitionBy("shard") write layout; one map-side-combined
# aggregate on a 16-value key.

N_SHARDS = 16

SHARDS_ORACLE = f"""
SELECT {md5_int_duck("CAST(doc_id AS VARCHAR)", salt="shard")} % {N_SHARDS} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
GROUP BY 1
"""


@register(
    "curation_shards",
    oracle=SHARDS_ORACLE,
    description="deterministic training-shard assignment: md5-mod shard id "
    "(reproducible, RNG-free), per-shard doc/token totals as the balance "
    "audit — the partitionBy layout step a data loader consumes; one "
    "map-side-combined aggregate",
)
def curation_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        SELECT {md5_int_spark("CAST(doc_id AS STRING)", salt="shard")} % {N_SHARDS} AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(size(split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM documents
        GROUP BY 1
        """
    )


# --- the end-to-end curation pipeline as ONE lazy plan ---
# The showcase composition: normalize → content-hash dedup (keep min id)
# → quality gate (token/diversity/stopword thresholds) → shard
# assignment, ending in the per-shard balance audit. One narrow scan
# feeds a single digest shuffle and a 16-key aggregate — the whole
# curation pass is two shuffles at any scale. The oracle replays the
# identical CTE chain in DuckDB (engine-specific list/regex spellings,
# same semantics), so hash-equality certifies every stage at once.

_STOPS = "('the','a','of','and','to')"


def _e2e_sql(
    re_flag: str,
    split_len,
    distinct_len,
    stop_len,
    shard_hash: str,
) -> str:
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' '{re_flag})) AS t
  FROM documents
),
dedup AS (
  SELECT min(doc_id) AS doc_id, min(t) AS t
  FROM norm
  GROUP BY md5(t)
),
gated AS (
  SELECT doc_id, {split_len('t')} AS n_tok
  FROM dedup
  WHERE {split_len('t')} >= 30
    AND CAST({distinct_len('t')} AS DOUBLE) / {split_len('t')} >= 0.3e0
    AND CAST({stop_len('t')} AS DOUBLE) / {split_len('t')} >= 0.01e0
)
SELECT {shard_hash} % {N_SHARDS} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM gated
GROUP BY 1
"""


E2E_ORACLE = _e2e_sql(
    ", 'g'",
    lambda c: f"len(string_split({c}, ' '))",
    lambda c: f"len(list_distinct(string_split({c}, ' ')))",
    lambda c: f"len(list_filter(string_split({c}, ' '), x -> x IN {_STOPS}))",
    md5_int_duck("CAST(doc_id AS VARCHAR)", salt="shard"),
)


@register(
    "curation_pipeline_e2e",
    oracle=E2E_ORACLE,
    description="the END-TO-END curation pass as one lazy plan: normalize "
    "→ content-hash dedup (keep min id) → quality gate → shard assignment "
    "→ balance audit; two shuffles total (digest key, then 16 shard keys) "
    "at any scale — hash-equality with the DuckDB CTE replay certifies "
    "every stage at once",
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _e2e_sql(
            "",
            lambda c: f"size(split({c}, ' '))",
            lambda c: f"size(array_distinct(split({c}, ' ')))",
            lambda c: f"size(filter(split({c}, ' '), x -> x IN {_STOPS}))",
            md5_int_spark("CAST(doc_id AS STRING)", salt="shard"),
        )
    )


# --- leakage-safe train/val/test split ---
# Random per-document splits LEAK: a near-duplicate pair lands in train
# and test and the eval measures memorization. The correct unit of
# assignment is the dedup COMPONENT — every member of a near-dup group
# goes to the same split, decided by a hash of the group's canonical id
# (singletons are their own group). Deterministic md5 split (8/1/1) ⇒
# zero RNG state, reproducible across engines and runs; leakage-freedom
# is by construction (one component → one split), which the oracle
# re-derives independently via the recursive-CTE closure.
#
# Scale: components come from the already-built CC operator; the split
# is one hash + one aggregate keyed on (split), after a left join of
# the corpus to the (small) component table.


def _split_expr(h: str) -> str:
    return (
        f"CASE WHEN {h} % 10 < 8 THEN 'train' "
        f"WHEN {h} % 10 = 8 THEN 'val' ELSE 'test' END"
    )


LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE pairs AS ({_PAIRS_DUCK}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, label) AS (
  SELECT u AS node, u AS label FROM edges
  UNION
  SELECT e.v AS node, r.label FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
base AS ({NEAR_BASE_DUCK}),
labeled AS (
  SELECT b.doc_id, len(string_split(b.text, ' ')) AS n_tok,
         coalesce(c.component, b.doc_id) AS grp
  FROM base b LEFT JOIN comp c ON c.node = b.doc_id
),
assigned AS (
  SELECT doc_id, n_tok, grp,
         {_split_expr(md5_int_duck("CAST(grp AS VARCHAR)", salt="split"))} AS split
  FROM labeled
)
SELECT split,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM assigned
GROUP BY split
"""


@register(
    "curation_leakage_safe_split",
    oracle=LEAKAGE_SPLIT_ORACLE,
    description="leakage-safe train/val/test split: assignment hashed per "
    "dedup COMPONENT (near-dup groups never straddle splits — the "
    "memorization-leak guard random per-doc splits lack), deterministic "
    "md5 8/1/1; oracle re-derives components via the recursive closure "
    "and must land every group in the same split",
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = graph.connected_components(_spark_pairs(spark, sf_dir))
    base = spark.sql(NEAR_BASE_SPARK)
    labeled = (
        base.join(comp, base["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
            F.coalesce("component", "doc_id").alias("grp"),
        )
    )
    assigned = labeled.withColumn(
        "split",
        F.expr(_split_expr(md5_int_spark("CAST(grp AS STRING)", salt="split"))),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("grp").cast("long").alias("n_groups"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


# --- LM-gated curation pipeline (round-4 composition) ---
# curation_pipeline_e2e gates on surface features (length/diversity);
# this is the MODEL-gated version real pipelines graduate to (CCNet):
# score every document with the corpus-trained bigram LM, keep the
# fluent ones (xent ≤ 3.4 nats — ~the corpus median — and ≥ 20 bigrams),
# exact-dedup the survivors, hash-shard for training. One lazy plan:
# the LM chain's two model aggregates + scoring join, the digest
# dedup aggregate, and the final shard aggregate — the xent gate and
# shard key are map-side. Every float in the gate comparison comes off
# the deterministic ln kernel, so the kept set is bit-identical across
# engines — which is exactly what makes a perplexity threshold
# reproducible across reruns of a 100 TB pipeline.

_LM_XENT_GATE = "3.4e0"
_LM_MIN_BIGRAMS = 20
_LM_SHARDS = 8


def _pipeline_lm_sql(toks: str, fold: str, shard_hash: str) -> str:
    from posting_lines_spark.queries.text_q import _lm_chain

    return f"""{_lm_chain(toks, fold)},
kept AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d JOIN lmscore p ON p.doc_id = d.doc_id
  WHERE p.xent_nats <= {_LM_XENT_GATE} AND p.n_bigrams >= {_LM_MIN_BIGRAMS}
),
groups AS (
  SELECT md5(text) AS digest, min(doc_id) AS doc_kept
  FROM kept GROUP BY md5(text)
),
surv AS (
  SELECT k.doc_id, k.text, k.source
  FROM kept k JOIN groups g ON k.doc_id = g.doc_kept
),
sharded AS (
  SELECT CAST({shard_hash} % {_LM_SHARDS} AS BIGINT) AS shard, doc_id, text
  FROM surv
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM sharded
GROUP BY shard
"""


def _pipeline_lm_oracle() -> str:
    from posting_lines_spark.queries.text_q import _LM_FOLD_DUCK, _LM_TOKS_DUCK

    return _pipeline_lm_sql(
        _LM_TOKS_DUCK,
        _LM_FOLD_DUCK,
        md5_int_duck("CAST(doc_id AS VARCHAR)", salt="lmshard"),
    )


@register(
    "curation_pipeline_lm",
    oracle=_pipeline_lm_oracle(),
    description="LM-gated curation pipeline (the CCNet shape): bigram-LM "
    "perplexity gate (deterministic ln kernel ⇒ the kept set is "
    "bit-identical across engines and reruns) → exact dedup of the "
    "survivors → hash-shard audit; one lazy plan composing the round's "
    "pieces",
)
def curation_pipeline_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.queries.text_q import _LM_FOLD_SPARK, _LM_TOKS_SPARK

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _pipeline_lm_sql(
            _LM_TOKS_SPARK,
            _LM_FOLD_SPARK,
            md5_int_spark("CAST(doc_id AS STRING)", salt="lmshard"),
        )
    )


# --- rendezvous (HRW) shard assignment: resharding stability ---
# curation_shards uses hash-mod, under which growing the shard count
# reassigns ~(1 − 1/n) of all keys — a full data reshuffle. Rendezvous
# hashing (highest-random-weight: shard = argmax over shards of
# h(doc, shard)) moves only the keys whose NEW shard wins the argmax —
# expected 1/(n+1) of them. This query assigns every doc under 8 and
# 9 shards and measures the moved fraction directly; the argmax
# tiebreak is (hash, shard) so assignment is total and deterministic,
# and the verdict column pins moved_frac < 2/(n+1) (vs ~8/9 for mod).
# Scale: explode docs × |shards| (a constant), one argmax window per
# topology — map-side except the per-doc argmax shuffle; at a real
# reshard this query IS the move plan (keys where old != new).

_HRW_A = 8
_HRW_B = 9


def _hrw_sql(h_ds: str) -> str:
    def assign(n: int, name: str) -> str:
        return f"""
{name}_w AS (
  SELECT doc_id, s, {h_ds} AS w
  FROM docs CROSS JOIN (VALUES {', '.join(f'({i})' for i in range(n))}) AS t(s)
),
{name} AS (
  SELECT doc_id, s AS shard FROM (
    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s) AS rn
    FROM {name}_w
  ) r WHERE rn = 1
)"""

    return f"""
WITH docs AS (SELECT doc_id FROM documents),
{assign(_HRW_A, 'a')},
{assign(_HRW_B, 'b')}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN a.shard != b.shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST(sum(CASE WHEN a.shard != b.shard THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS moved_frac,
       (CAST(sum(CASE WHEN a.shard != b.shard THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*)) < {2.0 / (_HRW_B)}e0 AS stability_ok
FROM a JOIN b ON a.doc_id = b.doc_id
"""


_HRW_H_SPARK = md5_int_spark(
    "concat(CAST(doc_id AS STRING), '#', CAST(s AS STRING))", salt="hrw"
)
_HRW_H_DUCK = md5_int_duck(
    "concat(CAST(doc_id AS VARCHAR), '#', CAST(s AS VARCHAR))", salt="hrw"
)


@register(
    "curation_shards_hrw",
    oracle=_hrw_sql(_HRW_H_DUCK),
    description="rendezvous (highest-random-weight) shard assignment: "
    "argmax of h(doc, shard) — growing 8→9 shards moves only ~1/9 of "
    "keys (measured, verdict-pinned) vs ~8/9 under hash-mod; the "
    "reshard-stability primitive, and the diff of the two assignments "
    "IS the move plan",
)
def curation_shards_hrw(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_hrw_sql(_HRW_H_SPARK))


# --- nucleus (top-p) source truncation ---
# The mixture-trimming rule: keep the smallest set of sources covering
# ≥ 80% of the corpus (rank by size, include while the cumulative mass
# BEFORE the row is under the threshold — so the boundary source that
# crosses 80% is kept, everything after is dropped). Integer counts,
# one ratio per row; the rank tiebreak (n DESC, source) makes the kept
# set deterministic. Shape: one count aggregate + one window over the
# |sources|-row table — free at any corpus size.

_NUCLEUS_P = "0.8e0"

NUCLEUS_SQL = f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, n_docs,
         CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n_docs) OVER () AS BIGINT) AS total
  FROM src
)
SELECT source, n_docs,
       CAST(cum AS DOUBLE) / total AS cum_share
FROM ranked
WHERE (CAST(cum - n_docs AS DOUBLE) / total) < {_NUCLEUS_P}
"""


@register(
    "curation_mixture_nucleus",
    oracle=NUCLEUS_SQL,
    description="nucleus (top-p) source truncation: smallest source set "
    "covering ≥80% of the corpus — rank by size, gate on the cumulative "
    "mass before each row (the crossing source is kept); deterministic "
    "tiebreak, |sources|-row window, free at any scale",
)
def curation_mixture_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(NUCLEUS_SQL)


# --- per-group bottom-k uniform sample ---
# Bottom-k-by-hash is the distributed equivalent of a per-stratum
# reservoir sample: the k smallest md5 values of a group are a uniform
# k-subset of it, reproducible across runs/engines with zero RNG state,
# and mergeable (bottom-k of a union = bottom-k of the per-shard
# bottom-ks — the same property the KMV sketch exploits). This is the
# "give me k example rows per source" primitive every curation review
# loop needs, at a cost of one partial top-k per partition + a k·groups
# merge, never a global sort.

BOTTOMK_K = 5


def _bottomk_sql(h_doc: str) -> str:
    return f"""
SELECT source, doc_id, sample_rank
FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY {h_doc}, doc_id)
           AS BIGINT) AS sample_rank
  FROM documents
) r
WHERE sample_rank <= {BOTTOMK_K}
"""


@register(
    "sample_bottomk_per_group",
    oracle=_bottomk_sql(md5_int_duck("CAST(doc_id AS VARCHAR)", salt="bk")),
    description=f"per-group bottom-{BOTTOMK_K} uniform sample: the k "
    "smallest md5(doc_id) per source — the deterministic, mergeable "
    "equivalent of a per-stratum reservoir sample (bottom-k of shard "
    "bottom-ks = global bottom-k); partial top-k per partition, no "
    "global sort",
)
def sample_bottomk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_bottomk_sql(md5_int_spark("CAST(doc_id AS STRING)", salt="bk")))


# --- k-anonymity audit (privacy QA before release) ---
# A record is k-anonymous iff at least k rows share its quasi-identifier
# (QI) tuple — the standard re-identification audit run before a dataset
# (or its metadata) ships. QIs here: (nation, market segment, account-
# balance band); k = 5. Output is the per-nation risk profile: how many
# QI equivalence classes exist, how many are below k, and what fraction
# of rows would need suppression/generalization — the actionable shape
# (which slice of the data is re-identifiable), not just a global flag.
# Scale: one hash-aggregate on the QI tuple + one rollup to nation; the
# band edges are constants, so the QI aggregate is map-side combinable.

K_ANON = 5

K_ANON_ORACLE = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1.0e3) AS BIGINT) AS bal_band,
         CAST(count(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN class_size < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(sum(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END) AS DOUBLE)
         / sum(class_size) AS risk_rate,
       CAST(min(class_size) AS BIGINT) AS min_class_size
FROM qi
GROUP BY c_nationkey
"""


@register(
    "privacy_k_anonymity",
    oracle=K_ANON_ORACLE,
    description=f"k-anonymity audit (k={K_ANON}) over quasi-identifiers "
    "(nation, segment, balance band): per-nation equivalence-class "
    "profile — classes below k, rows at re-identification risk, "
    "suppression rate; two chained hash-aggregates, map-side combinable",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1.0e3)).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    small = F.col("class_size") < K_ANON
    return (
        qi.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(small, 1).otherwise(0)).alias("n_small_classes"),
            F.sum("class_size").alias("n_rows"),
            F.sum(F.when(small, F.col("class_size")).otherwise(0)).alias("rows_at_risk"),
            (
                F.sum(F.when(small, F.col("class_size")).otherwise(0)).cast("double")
                / F.sum("class_size")
            ).alias("risk_rate"),
            F.min("class_size").alias("min_class_size"),
        )
    )


# --- logistic quality gate (fastText-style quality classifier shape) ---
# Production corpus curation gates documents with a learned quality
# classifier (fastText / logistic regression over cheap text features).
# The inference side of that pipeline is pure arithmetic — features ×
# fixed weights → log-odds — and that is what runs at 100-TB scale, so
# that is what this query implements: the text_quality feature vector
# plus deterministic ln(n_tokens) (functions/dmath staged kernel), a
# fixed public weight vector, and the gate as z > 0. The sigmoid is
# MONOTONE, so gating on probability p > 0.5 is exactly gating on
# z > 0 — no exp() needed, keeping every op in the deterministic
# IEEE kernel set. Reported z is the log-odds (the score production
# systems threshold and log anyway).
#
# Scale: map-side feature math + one tiny per-source aggregate; the
# decimal route makes the mean score order-independent. Weights are
# double literals — swapping in trained weights changes nothing
# structurally.

# bias picked so the gate actually SPLITS the synthetic corpus (~54%
# kept at sf0.001) — a gate that passes or drops everything would make
# the parity check vacuous
QL_W = {
    "bias": -3.85,
    "lex_div": 2.0,       # lexical diversity up → quality up
    "mean_tok_len": 0.35,  # longer tokens → mildly up
    "stop_ratio": 6.0,     # natural-language stopword mass → up
    "ln_tokens": 0.25,     # log length → up
}


def _quality_logistic_sql(split_fn: str, len_fn: str, filt: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    w = QL_W
    ln_sql, ln_last = dln_int_cte_layers([("n_tokens", "t")], "feat", "ql")
    return f"""
WITH feat AS (
  SELECT doc_id, source,
         CAST({len_fn}({split_fn}(text, ' ')) AS BIGINT) AS n_tokens,
         CAST({len_fn}({filt}) AS BIGINT) AS n_stop,
         CAST({len_fn}(list_distinct({split_fn}(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
  FROM documents
),
{ln_sql},
scored AS (
  SELECT doc_id, source,
         {w["bias"]!r}e0
         + {w["lex_div"]!r}e0 * (CAST(n_distinct AS DOUBLE) / n_tokens)
         + {w["mean_tok_len"]!r}e0 * (CAST(n_chars AS DOUBLE) / n_tokens)
         + {w["stop_ratio"]!r}e0 * (CAST(n_stop AS DOUBLE) / n_tokens)
         + {w["ln_tokens"]!r}e0 * t_ln AS z
  FROM {ln_last}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN z > 0.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {dsum_expr("z")} / count(*) AS mean_log_odds
FROM scored
GROUP BY source
"""


_QL_STOP_SPARK = "filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))"
_QL_STOP_DUCK = (
    "list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))"
)


@register(
    "curation_quality_logistic",
    oracle=_quality_logistic_sql("string_split", "len", _QL_STOP_DUCK),
    description="logistic quality-classifier gate (fastText-inference "
    "shape): text_quality features + deterministic staged ln(n_tokens), "
    "fixed weight vector, gate = log-odds > 0 (sigmoid is monotone, so "
    "p > 0.5 needs no exp and stays in the IEEE-exact kernel set); "
    "map-side scoring + one per-source rollup with decimal-routed mean "
    "log-odds",
)
def curation_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _quality_logistic_sql("split", "size", _QL_STOP_SPARK).replace(
            "list_distinct", "array_distinct"
        )
    )


# --- l-diversity audit (the sequel to k-anonymity) ---
# k-anonymity alone is defeated by a HOMOGENEOUS class: if all rows
# sharing a QI tuple also share the sensitive value, class size
# protects nothing (Machanavajjhala et al. 2007). Distinct
# l-diversity: every QI equivalence class must contain ≥ l distinct
# sensitive values. QIs here: (nation, account-balance band) —
# deliberately one attribute COARSER than the k-anonymity QI so the
# two audits disagree where they should — sensitive attribute: market
# segment; l = 3. Output per nation: class counts, classes below l,
# rows in those classes, and the worst (min distinct) class — the
# actionable generalization worklist. Exact integers throughout.
#
# Scale: one hash-aggregate on (QI, sensitive) with map-side combine,
# one on QI, one rollup to nation — all cardinality-bounded state.

L_DIVERSITY = 3

L_DIV_ORACLE = f"""
WITH cls AS (
  SELECT c_nationkey,
         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1.0e3) AS BIGINT) AS bal_band,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
         CAST(count(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY 1, 2
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN n_sensitive < {L_DIVERSITY} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_undiverse_classes,
       CAST(sum(CASE WHEN n_sensitive < {L_DIVERSITY} THEN class_size ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(min(n_sensitive) AS BIGINT) AS min_diversity
FROM cls
GROUP BY c_nationkey
"""


@register(
    "privacy_l_diversity",
    oracle=L_DIV_ORACLE,
    description=f"distinct l-diversity audit (l={L_DIVERSITY}) over QI "
    "(nation, balance band) with market segment sensitive: per-nation "
    "classes below l, rows exposed by homogeneous classes, worst-class "
    "diversity — the homogeneity attack k-anonymity misses; two "
    "chained cardinality-bounded hash-aggregates, exact integers",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1.0e3)).alias("bal_band"),
    ).agg(
        F.countDistinct("c_mktsegment").cast("long").alias("n_sensitive"),
        F.count(F.lit(1)).alias("class_size"),
    )
    low = F.col("n_sensitive") < L_DIVERSITY
    return (
        cls.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(low, 1).otherwise(0)).alias("n_undiverse_classes"),
            F.sum(F.when(low, F.col("class_size")).otherwise(0)).alias("rows_at_risk"),
            F.min("n_sensitive").alias("min_diversity"),
        )
    )


# --- differential privacy: Laplace-noised count release ---
# The third rung of the privacy ladder (k-anonymity → l-diversity →
# DP): release per-source document counts under ε-DP with the Laplace
# mechanism (sensitivity 1 for a count), noise drawn by inverse-CDF
#   x = −(1/ε)·sgn(u)·ln(1 − 2|u|),  u ~ U(−½, ½).
# Engine determinism is the interesting part: u comes from the md5
# scheme (k = h mod 1999 − 999, u = k/2000, so 1 − 2|u| =
# (1000 − |k|)/1000 with |k| ≤ 999) — which makes BOTH ln arguments
# EXACT INTEGERS, so ln routes through the deterministic integer-ln
# kernel (functions/dmath.py) and the released values are
# bit-identical across engines. n_true is returned here to make the
# parity check pin the mechanism end-to-end; a production release
# ships only the noised column.
#
# Scale: one cardinality-bounded hash-aggregate + per-row kernel math.
# Seeded-hash noise also makes the release IDEMPOTENT across retries —
# a re-run releases the identical value instead of spending privacy
# budget twice (noise is keyed by the release label, here the source).

DP_EPSILON = 0.5  # 1/eps = 2.0


def _dp_release_sql(h: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    layers, last = dln_int_cte_layers(
        [("1000 - abs(k)", "dk"), ("1000", "dc")], "w0", "dpl"
    )
    inv_eps = f"{1.0 / DP_EPSILON!r}e0"
    return f"""
WITH base AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_true
  FROM documents GROUP BY source
),
w0 AS (
  SELECT source, n_true,
         CAST(({h}) % 1999 AS BIGINT) - 999 AS k
  FROM base
),
{layers}
SELECT source, n_true,
       CAST(n_true AS DOUBLE)
         + {inv_eps} * CAST(sign(k) AS DOUBLE) * (dc_ln - dk_ln)
         AS released_count,
       {DP_EPSILON!r}e0 AS epsilon
FROM {last}
"""


@register(
    "privacy_dp_release",
    oracle=_dp_release_sql(md5_int_duck("source", salt="dplap")),
    description=f"ε-differentially-private count release (Laplace "
    f"mechanism, ε={DP_EPSILON}, sensitivity 1) of per-source document "
    "counts: inverse-CDF noise from md5-uniform u with BOTH ln "
    "arguments exact integers through the deterministic integer-ln "
    "kernel — released values bit-identical across engines and "
    "idempotent across retries (seeded by release label, no budget "
    "double-spend); one cardinality-bounded aggregate",
)
def privacy_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_dp_release_sql(md5_int_spark("source", salt="dplap")))


# --- t-closeness audit (completing the k/l/t privacy triad) ---
# l-diversity is defeated by SKEW: a class with 3 distinct sensitive
# values at 98/1/1 leaks almost as much as a homogeneous one. t-closeness
# (Li et al. 2007) bounds the DISTANCE between each class's sensitive
# distribution and the global one; for a categorical sensitive attribute
# the distance is total variation, and it has an exact-integer form:
#   t(class) = ½ Σ_s |c_s/n − g_s/N| = Σ_s |c_s·N − g_s·n| / (2·n·N).
# Same QI as privacy_l_diversity ((nation, balance band), market segment
# sensitive) so the triad audits one schema. ABSENT segments matter
# (|0 − g_s·n| contributes), so classes are crossed with the full
# segment list before the left join. Numerators are BIGINT-exact
# (c·N ≤ N² ≈ 2e14 at sf10); one final division per class — the t
# values and violation counts are bit-identical across engines.
#
# Scale: one (QI, segment) hash-aggregate with map-side combine, a
# cardinality-bounded grid (classes × 5 segments), one rollup to
# nation. No data-shaped shuffle beyond the first aggregate.

T_CLOSENESS = 0.35


def _t_closeness_sql() -> str:
    return f"""
WITH cls AS (
  SELECT c_nationkey,
         CAST(floor(CAST(c_acctbal AS DOUBLE) / 1.0e3) AS BIGINT) AS bal_band,
         c_mktsegment, CAST(count(*) AS BIGINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
cl AS (
  SELECT c_nationkey, bal_band, CAST(sum(c) AS BIGINT) AS n
  FROM cls GROUP BY 1, 2
),
seg AS (
  SELECT c_mktsegment, CAST(sum(c) AS BIGINT) AS g FROM cls GROUP BY 1
),
tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM seg),
grid AS (
  SELECT cl.c_nationkey, cl.bal_band, cl.n, s.c_mktsegment, s.g, t.nn,
         CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM cl CROSS JOIN seg s CROSS JOIN tot t
  LEFT JOIN cls c ON c.c_nationkey = cl.c_nationkey
   AND c.bal_band = cl.bal_band AND c.c_mktsegment = s.c_mktsegment
),
tval AS (
  SELECT c_nationkey, bal_band, n,
         CAST(sum(abs(c * nn - g * n)) AS DOUBLE)
           / (2.0e0 * CAST(n AS DOUBLE) * CAST(max(nn) AS DOUBLE)) AS t
  FROM grid GROUP BY c_nationkey, bal_band, n
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_classes,
       max(t) AS max_t,
       CAST(sum(CASE WHEN t > {T_CLOSENESS!r}e0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(sum(CASE WHEN t > {T_CLOSENESS!r}e0 THEN n ELSE 0 END) AS BIGINT)
         AS rows_exposed
FROM tval GROUP BY c_nationkey
"""


@register(
    "privacy_t_closeness",
    oracle=_t_closeness_sql(),
    description=f"t-closeness audit (t={T_CLOSENESS}, total-variation "
    "distance) over the same QI/sensitive schema as the k-anonymity and "
    "l-diversity rungs: exact-integer |c·N − g·n| numerators including "
    "absent segments, one division per class — bit-identical across "
    "engines; skew leakage that l-diversity's distinct-count misses; "
    "cardinality-bounded aggregates throughout",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_t_closeness_sql())


# --- DSIR-style importance resampling (hashed n-gram features) ---
# Data Selection via Importance Resampling (Xie et al. 2023): score each
# document by how much more likely its hashed unigram features are under
# a TARGET distribution (here: the English sub-corpus) than under the
# SOURCE (the full corpus), then keep the top-N — the scalable way to
# tilt a 100 TB crawl toward a target domain without training a model.
#   w(d) = (1/n_d) Σ_tok [ln p_T(b(tok)) − ln p_S(b(tok))],
#   p(b) = (cnt_b + 1)/(tot + B)   (add-1 over B hash buckets)
# Feature hashing (md5 mod B=64) bounds model state at B rows per side
# regardless of vocabulary. Every ln argument is an exact integer →
# deterministic integer-ln kernel; per-doc sums decimal-routed at scale
# 3; top-N by (w DESC, doc_id) on engine-identical doubles.
#
# Scale: bucket tables are B-bounded (broadcast); scoring is one
# (bucket)-keyed join of doc-bucket counts + one per-doc aggregate +
# a global top-N (TakeOrdered, never a full sort).

DSIR_BUCKETS = 64
DSIR_TOP_N = 100
DSIR_TARGET_LANG = "en"


def _dsir_sql(tok_cte: str, h: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    layers, last = dln_int_cte_layers(
        [("ct + 1", "lt"), ("cs + 1", "ls")], "bk", "dsr"
    )
    layers2, last2 = dln_int_cte_layers(
        [(f"tt + {DSIR_BUCKETS}", "ltt"), (f"ts + {DSIR_BUCKETS}", "lts")],
        "btot", "dsc",
    )
    return f"""
WITH tok AS ({tok_cte}),
db AS (
  SELECT doc_id, lang, CAST(({h}) % {DSIR_BUCKETS} AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2, 3
),
bk AS (
  SELECT b,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN cnt ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(cnt) AS BIGINT) AS cs
  FROM db GROUP BY b
),
{layers},
btot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cs) AS BIGINT) AS ts
  FROM bk
),
{layers2},
ds AS (
  SELECT d.doc_id, d.lang, CAST(sum(d.cnt) AS BIGINT) AS n_tok,
         {dsum_expr("CAST(d.cnt AS DOUBLE) * (k.lt_ln - k.ls_ln)", 3)} AS s
  FROM db d JOIN {last} k ON k.b = d.b
  GROUP BY d.doc_id, d.lang
),
w AS (
  SELECT ds.doc_id, ds.lang, ds.n_tok,
         (ds.s - CAST(ds.n_tok AS DOUBLE) * (c.ltt_ln - c.lts_ln))
           / CAST(ds.n_tok AS DOUBLE) AS w
  FROM ds CROSS JOIN {last2} c
)
SELECT doc_id, lang, n_tok, w
FROM w
ORDER BY w DESC, doc_id
LIMIT {DSIR_TOP_N}
"""


@register(
    "curation_importance_resample",
    oracle=_dsir_sql(
        "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok"
        " FROM documents",
        md5_int_duck("tok", salt="dsir"),
    ),
    description=f"DSIR-style importance resampling toward the "
    f"'{DSIR_TARGET_LANG}' sub-corpus: hashed unigram features "
    f"(md5 mod {DSIR_BUCKETS} buckets bound model state regardless of "
    "vocabulary), add-1 log-ratio weights with every ln argument an "
    "exact integer through the deterministic kernel, per-doc sums "
    f"decimal-routed, top-{DSIR_TOP_N} by (weight, doc_id) — "
    "bit-identical across engines; B-bounded broadcastable model, one "
    "bucket join + TakeOrdered top-N",
)
def curation_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _dsir_sql(
            "SELECT doc_id, lang, explode(split(text, ' ')) AS tok"
            " FROM documents",
            md5_int_spark("tok", salt="dsir"),
        )
    )


# --- randomized response (Warner 1965, local differential privacy) ---
# The LOCAL-DP collection primitive: each unit reports its binary
# attribute FLIPPED with probability p, and the aggregator recovers an
# unbiased population estimate without ever seeing a trustworthy
# individual bit:  T̂ = (Y − p·n) / (1 − 2p)  for observed yes-count Y.
# Flips are md5-derived per user (deterministic — bit-identical on
# both engines and idempotent across retries, the dp_release seeding
# discipline): flip iff md5(user) mod FLIP_DEN < FLIP_NUM, p = 1/4
# (ε = ln((1−p)/p) = ln 3 local DP). The true count rides along so the
# released row itself audits the estimator's error. Estimator math is
# exact integers until two final shared-text divisions.
#
# Scale: ONE map-side-combinable conditional aggregate over the
# distinct-user table — no joins, no windows; the report is 1 row.

FLIP_NUM, FLIP_DEN = 1, 4  # p = 1/4


def _rand_response_sql(md5u: str) -> str:
    p = f"(CAST({FLIP_NUM} AS DOUBLE) / CAST({FLIP_DEN} AS DOUBLE))"
    return f"""
WITH users AS (
  SELECT user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS truth
  FROM events
  GROUP BY user_id
),
reports AS (
  SELECT truth,
         CASE WHEN ({md5u}) % {FLIP_DEN} < {FLIP_NUM}
              THEN 1 - truth ELSE truth END AS reported
  FROM users
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(reported) AS BIGINT) AS y_obs,
         CAST(sum(truth) AS BIGINT) AS t_true
  FROM reports
)
SELECT n, y_obs, t_true,
       (CAST(y_obs AS DOUBLE) - {p} * CAST(n AS DOUBLE))
         / (1.0e0 - 2.0e0 * {p}) AS t_est,
       abs((CAST(y_obs AS DOUBLE) - {p} * CAST(n AS DOUBLE))
           / (1.0e0 - 2.0e0 * {p}) - CAST(t_true AS DOUBLE)) AS abs_err
FROM agg
"""


@register(
    "privacy_randomized_response",
    oracle=_rand_response_sql(md5_int_duck("user_id", salt="rrflip")),
    description=f"Warner randomized response (local DP, p = "
    f"{FLIP_NUM}/{FLIP_DEN} → ε = ln 3): md5-deterministic per-user "
    "flips of the is-purchaser bit, unbiased estimate "
    "T̂ = (Y − p·n)/(1 − 2p) with the true count riding along as the "
    "error audit; one map-side conditional aggregate, 1-row release",
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_rand_response_sql(md5_int_spark("user_id", salt="rrflip")))


# --- differential privacy: Gaussian mechanism under zCDP (wave 22) ---
# privacy_dp_release is the ε-DP Laplace rung; modern DP accounting
# composes through zero-concentrated DP, where the GAUSSIAN mechanism
# with σ = Δ/√(2ρ) satisfies ρ-zCDP and composes additively in ρ (Bun
# & Steinke 2016) — the mechanism DP-SGD-style pipelines actually
# deploy. Determinism is again the engineering content: the standard
# normal comes from Box-Muller z = √(−2 ln u₁)·cos(2π u₂) with BOTH
# transcendentals on this repo's deterministic kernels —
#   u₁ = k₁/2²⁰, k₁ ∈ [1, 2²⁰]:  ln u₁ = dln(k₁) − dln(2²⁰), exact
#     integer args through the integer-ln kernel;
#   u₂ = k₂/2²⁰: cos(2πu₂) via the periodogram's EXACT quadrant
#     reduction (q = ⌊4k₂/2²⁰⌋, u = (π/2)(4k₂ − q·2²⁰)/2²⁰ ∈ [0,π/2))
#     into the deterministic cos/sin kernels;
# k₁, k₂ are two independent md5 slots keyed by the release label, so
# the release is bit-identical across engines AND idempotent across
# retries (no silent budget double-spend). n_true returned to pin the
# mechanism end-to-end; production ships only the noised column.
#
# Scale: one cardinality-bounded hash-aggregate + per-row kernel math.

DP_RHO = 0.125  # zCDP budget; sigma = 1/sqrt(2*rho) = 2.0 at delta=1
_DP_K = 2**20


def _dp_gauss_sql(h1: str, h2: str) -> str:
    import math

    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.functions.geo import dcos_sql, dlit, dsin_sql

    layers, last = dln_int_cte_layers(
        [("k1", "g1"), (f"CAST({_DP_K} AS BIGINT)", "gc")], "w0", "dpg"
    )
    sigma = dlit(1.0 / math.sqrt(2.0 * DP_RHO))
    half_pi = dlit(math.pi / 2.0)
    c, s = dcos_sql("u"), dsin_sql("u")
    cos_t = (
        f"CASE q WHEN 0 THEN {c} WHEN 1 THEN -{s} "
        f"WHEN 2 THEN -{c} ELSE {s} END"
    )
    return f"""
WITH base AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_true
  FROM documents GROUP BY source
),
w0 AS (
  SELECT source, n_true,
         CAST(({h1}) % {_DP_K} AS BIGINT) + 1 AS k1,
         CAST(({h2}) % {_DP_K} AS BIGINT) AS k2
  FROM base
),
{layers},
ang AS (
  SELECT source, n_true, g1_ln, gc_ln, k2,
         CAST(floor(CAST(4 * k2 AS DOUBLE) / {float(_DP_K)!r}e0) AS BIGINT)
           AS q
  FROM {last}
),
bm AS (
  SELECT source, n_true, g1_ln, gc_ln, q,
         {half_pi} * (CAST(4 * k2 - q * {_DP_K} AS DOUBLE)
                      / {float(_DP_K)!r}e0) AS u
  FROM ang
)
SELECT source, n_true,
       CAST(n_true AS DOUBLE)
         + {sigma} * (sqrt(-2e0 * (g1_ln - gc_ln)) * ({cos_t}))
         AS released_count,
       {DP_RHO!r}e0 AS rho,
       {sigma} AS sigma
FROM bm
"""


@register(
    "privacy_dp_gaussian",
    oracle=_dp_gauss_sql(
        md5_int_duck("source", salt="dpgauss"),
        md5_int_duck("source", salt="dpgauss", slot=1),
    ),
    description=f"ρ-zCDP Gaussian-mechanism count release (ρ={DP_RHO}, "
    "σ=Δ/√(2ρ)=2.0) of per-source document counts: Box-Muller noise "
    "with ln on exact-integer md5-uniform numerators (integer-ln "
    "kernel) and cos through the exact quadrant reduction into the "
    "deterministic trig kernels — bit-identical across engines, "
    "idempotent across retries; the additive-composition sibling of "
    "privacy_dp_release's Laplace rung; one cardinality-bounded "
    "aggregate",
)
def privacy_dp_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _dp_gauss_sql(
            md5_int_spark("source", salt="dpgauss"),
            md5_int_spark("source", salt="dpgauss", slot=1),
        )
    )


# --- differential privacy: exponential-mechanism median (wave 27) ---
# The Laplace/Gaussian rungs release COUNTS; the third classic
# mechanism releases a NON-NUMERIC-utility statistic: the exponential
# mechanism (McSherry & Talwar 2007) picks candidate v with probability
# ∝ exp(ε·u(v)/2Δu). For the median over the doc-length domain,
# u(v) = −|rank_below(v) + c(v)/2 − n/2| has sensitivity 1/... kept in
# INTEGERS as u2(v) = |2·below(v) + c(v) − n| (twice the rank distance,
# Δu2 = 2), so the score weight is ε·(−u2)/4. Sampling is the
# Gumbel-max trick — argmax(score + g_v) with g_v = −ln(−ln U_v) — and
# every transcendental is deterministic:
#   U_v = k/2²⁰, k = md5(v) % (2²⁰−1) + 1 ∈ [1, 2²⁰−1]:
#     −ln U = dln(2²⁰) − dln(k)      (exact integer args);
#   −ln(−ln U) via the Hurst 1e-9 quantization: qt = round(t·1e9) ≥ 954
#     for every representable t, then ln t = dln(qt) − dln(1e9).
# Deterministic ⇒ bit-identical across engines AND idempotent across
# retries (no budget double-spend on re-run); the true median rides
# along as the utility audit (production ships only the release).
#
# Scale: one |domain|-bounded value aggregate, a domain-bounded window,
# kernel math per candidate, a top-1. Nothing data-shaped after the
# first aggregate.

DP_EM_EPS = 1.0
_EM_K = 2**20


def _dp_median_sql(h_v: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    l1, last1 = dln_int_cte_layers(
        [("k", "mk"), (f"CAST({_EM_K} AS BIGINT)", "mc")], "u0", "em1"
    )
    l2, last2 = dln_int_cte_layers(
        [("qt", "mt"), ("CAST(1000000000 AS BIGINT)", "mb")], "tq", "em2"
    )
    return f"""
WITH vals AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1
),
cum AS (
  SELECT v, c,
         CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vals
),
u0 AS (
  SELECT v, c, below, n,
         abs(2 * below + c - n) AS u2,
         CAST(({h_v}) % {_EM_K - 1} AS BIGINT) + 1 AS k
  FROM cum
),
{l1},
tq AS (
  SELECT v, u2, n,
         CAST(round((mc_ln - mk_ln) * 1000000000.0e0) AS BIGINT) AS qt
  FROM {last1}
),
{l2},
scored AS (
  SELECT v, u2, n,
         -({DP_EM_EPS!r}e0 / 4.0e0) * CAST(u2 AS DOUBLE)
           - (mt_ln - mb_ln) AS score
  FROM {last2}
),
sel AS (
  SELECT v AS released_median, score, n FROM scored
  ORDER BY score DESC, v LIMIT 1
),
truem AS (
  SELECT min(v) AS true_median FROM cum WHERE 2 * (below + c) >= n
)
SELECT s.n, t.true_median, s.released_median,
       abs(s.released_median - t.true_median) AS abs_err,
       {DP_EM_EPS!r}e0 AS epsilon
FROM sel s CROSS JOIN truem t
"""


@register(
    "privacy_dp_median_em",
    oracle=_dp_median_sql(md5_int_duck("CAST(v AS VARCHAR)", salt="dpem")),
    description=f"ε-DP median release (ε={DP_EM_EPS}) via the "
    "exponential mechanism — the third mechanism rung beside Laplace "
    "and zCDP-Gaussian, for statistics with non-additive utility: "
    "integer rank utility u2=|2·below+c−n| (Δ=2), Gumbel-max sampling "
    "with BOTH transcendentals on deterministic kernels (integer-ln on "
    "md5 uniforms; −ln(−ln U) through the Hurst 1e-9 quantization) — "
    "bit-identical across engines, idempotent across retries; true "
    "median rides along as the utility audit; domain-bounded "
    "throughout",
)
def privacy_dp_median_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_dp_median_sql(md5_int_spark("CAST(v AS STRING)", salt="dpem")))
