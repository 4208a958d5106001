"""Dedup queries over `documents`, each with a DuckDB oracle that replays
the same md5-derived hash math (functions/hashing.py) bit-for-bit.

The corpus has no natural duplicates (500 distinct texts), so each query
derives a deterministic augmented corpus inline: exact copies (id+100000)
for exact dedup, tail-truncated near-copies for the near-dup families —
identical derivation on both engines, no random state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import md5_int_duck
from posting_lines_spark.operators import dedup
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table

NUM_HASHES, BANDS = 12, 4
JACCARD_T = 0.5

# --- augmented corpora (Spark + DuckDB twins; identical rows) ---

EXACT_BASE_SPARK = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 2 = 0
"""
EXACT_BASE_DUCK = EXACT_BASE_SPARK

# near-copies: drop the last 2 tokens of every 5th doc
NEAR_BASE_SPARK = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id,
       array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 1)), ' ') AS text
FROM documents WHERE doc_id % 5 = 0
"""
NEAR_BASE_DUCK = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id,
       array_to_string((string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 2, 1)], ' ') AS text
FROM documents WHERE doc_id % 5 = 0
"""


def shingle_sql_duck(text: str, k: int = 3) -> str:
    toks = f"string_split({text}, ' ')"
    parts = ", ".join(f"({toks})[i + {j}]" for j in range(k))
    return (
        f"list_transform(range(1, greatest(len({toks}) - {k - 1}, 0) + 1), "
        f"i -> concat_ws(' ', {parts}))"
    )


_SH_DUCK = f"""
SELECT DISTINCT doc_id, unnest({shingle_sql_duck('text')}) AS shingle
FROM ({NEAR_BASE_DUCK})
"""


def _near_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-copy corpus, fanned out to every core: a single-file
    source reads as ONE partition, and the explode-heavy stages after it
    need all cores (a real cluster gets this from input splits)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(NEAR_BASE_SPARK).repartition(spark.sparkContext.defaultParallelism)


def _near_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (doc_id, shingle) set of the near-copy corpus — the
    one front-end of every MinHash-family query. MinHash signatures
    derive from it too: MIN is duplicate-insensitive, so a signature over
    the distinct set equals one over the raw explode, and a second
    explode+md5 pass buys nothing.

    The set sits behind one lazy cut because every caller reads it at
    least twice (signatures or prefix ranks, then verification). A cut
    on a subtree with ONE consumer only costs a job: under AQE the cut
    runs its upstream stages as a separate job and hides the subtree
    from exchange reuse."""
    # shared: every caller reads it at least twice
    return cut(dedup.shingles(_near_base(spark, sf_dir), "doc_id", "text"))


# --- exact dedup ---

EXACT_ORACLE = f"""
SELECT md5(text) AS content_digest, min(doc_id) AS doc_id_kept, count(*) AS n_copies
FROM ({EXACT_BASE_DUCK})
GROUP BY md5(text)
"""


@register(
    "dedup_exact",
    oracle=EXACT_ORACLE,
    description="exact dedup: content-digest hash-aggregate keeping min id "
    "(one uniform-key shuffle; the engine-side recomputation of the "
    "reference's upstream isUnique flag, sql_to_line.py:197)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    base = spark.sql(EXACT_BASE_SPARK)
    return dedup.exact_dedup(base, ["text"], "doc_id")


# --- MinHash + LSH near-dup ---

def _minhash_cte_body() -> str:
    """Shared WITH-body of the MinHash oracles (signatures → bands →
    candidate pairs → shingle intersection → set sizes); final SELECTs
    differ per query (threshold filter vs estimate audit)."""
    from posting_lines_spark.functions.hashing import cw_mix_sql, md5_limb_duck

    limbs = [f"l{i}" for i in range(4)]
    limb_cols = ", ".join(f"{md5_limb_duck('d', i)} AS l{i}" for i in range(4))
    mins = ",\n       ".join(
        f"min({cw_mix_sql(limbs, j)}) AS mh{j}" for j in range(NUM_HASHES)
    )
    rows = NUM_HASHES // BANDS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws(',', "
        + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(BANDS)
    )
    return f"""
WITH sh AS ({_SH_DUCK}),
sig AS (
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id, {limb_cols}
    FROM (SELECT doc_id, md5(concat('mh|', shingle)) AS d FROM sh)
  )
  GROUP BY doc_id
),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"""


def _minhash_oracle() -> str:
    return f"""
{_minhash_cte_body()}
SELECT i.id_a, i.id_b, i.n_common,
       i.n_common / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_common / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_T!r}
"""


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    description="MinHash(12)+LSH(4 bands) near-dup: shingle→signature in one "
    "aggregate pass, band-join candidates, exact-Jaccard verify ≥ 0.5 "
    "(no all-pairs comparison; hot-bucket skew documented in operators/dedup.py)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _near_shingles(spark, sf_dir)
    # sig keeps no lineage cut: the band self-join reuses sig's
    # aggregation exchange (ReuseExchange), so a cut only added a job
    sig = dedup.minhash_signature(sh, "doc_id", NUM_HASHES)
    # hot_width arms boilerplate-bucket salting (output-equivalent blocked
    # self-join) — inert at this SF, load-bearing on skewed real corpora
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, hot_width=256)
    return dedup.jaccard_verify(pairs, sh, "doc_id", JACCARD_T)


# --- incremental near-dup (new batch vs persisted index) ---
# The shape a CONTINUOUS ingestion pipeline actually runs: the corpus's
# band index is persisted state; an arriving batch computes signatures
# for its own docs only and probes the index — candidates are
# (new × index) ∪ (new × new), never index × index, so per-increment
# cost is ∝ batch size. Here the "index" is the pre-copy corpus
# (doc_id < 100000) and the "batch" is the near-copies (id ≥ 100000);
# because the CW hash family is shared, the incremental candidate set
# restricted this way is provably the full LSH candidate set minus its
# old×old pairs — the oracle is therefore the full MinHash oracle
# filtered to pairs involving a new doc (id_b ≥ 100000, since ids are
# ordered and every pair has id_a < id_b).


def _incremental_oracle() -> str:
    return f"SELECT * FROM ({_minhash_oracle()}) WHERE id_b >= 100000"


@register(
    "dedup_incremental",
    oracle=_incremental_oracle(),
    description="incremental near-dup: new batch probes the persisted "
    "band index ((new × index) ∪ (new × new), never index × index — "
    "per-increment cost ∝ batch size), exact-Jaccard verified; oracle = "
    "full MinHash pair set restricted to pairs touching the batch",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the index and the batch both derive from the one shingle set — the
    # id-range filters commute with the explode
    sh = _near_shingles(spark, sf_dir)
    old = sh.filter(F.col("doc_id") < 100000)
    banded_idx = dedup.band_signatures(
        dedup.minhash_signature(old, "doc_id", NUM_HASHES), "doc_id", NUM_HASHES, BANDS
    )
    pairs, _ = dedup.incremental_pairs(
        sh.filter(F.col("doc_id") >= 100000), old, banded_idx,
        "doc_id", NUM_HASHES, BANDS, JACCARD_T,
    )
    return pairs


# --- n-gram Jaccard (inverted-index all-candidates) ---

# stop-shingle cap: shingles in more than this many docs are dropped on
# BOTH engines before the self-join (bounds fanout at cap² per shingle;
# at sf0.01 nothing exceeds it, so the result set is unchanged — the
# mechanism is exercised by tests/test_operators.py with a boilerplate
# corpus)
NGRAM_DF_CAP = 50


def _capped_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for every pair sharing a shingle
    of the df-capped index: the overlap counts both capped measures
    (Jaccard, containment) are computed from. The capped set is read
    three times (two self-join sides, sizes), hence its cut."""
    sh = cut(  # shared: the two self-join sides and sizes
        dedup.stop_shingle_cap(
            dedup.shingles(_near_base(spark, sf_dir), "doc_id", "text"), "doc_id", NGRAM_DF_CAP
        )
    )
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return inter.join(
        sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    ).join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")


NGRAM_ORACLE = f"""
WITH sh0 AS ({_SH_DUCK}),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}
),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       i.n_common / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_common / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_T!r}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=NGRAM_ORACLE,
    description="n-gram Jaccard near-dup via shingle inverted-index join, "
    f"stop-shingle df cap {NGRAM_DF_CAP} bounding per-shingle join fanout "
    "(exact given the capped shingle universe; cap mirrored in the oracle)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _capped_overlap(spark, sf_dir)
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("id_a", "id_b", "jaccard")
    )


# --- span-level duplicate detection ---
# The signal behind exact-substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): token spans that recur
# across documents. Per doc: how many of its k-token spans also appear in
# ANOTHER doc, and the duplicated-span fraction — the per-doc measure a
# curation pipeline thresholds to drop or trim boilerplate-heavy docs.

SPAN_K = 5


def _span_sql(shingle_explode: str) -> str:
    return f"""
WITH spans AS ({shingle_explode}),
span_docs AS (
  SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM spans GROUP BY shingle
),
per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM spans s JOIN span_docs d ON s.shingle = d.shingle
  GROUP BY s.doc_id
)
SELECT doc_id, n_spans, n_dup_spans,
       CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_span_frac
FROM per_doc
WHERE n_dup_spans > 0
"""


SPAN_ORACLE = _span_sql(
    f"SELECT DISTINCT doc_id, unnest({shingle_sql_duck('text', k=SPAN_K)}) AS shingle "
    "FROM documents"
)


@register(
    "dedup_span_detect",
    oracle=SPAN_ORACLE,
    description="span-level duplicate detection (exact-substring dedup "
    "signal): k-token spans recurring across docs → per-doc duplicated-"
    "span fraction, the measure substring-dedup pipelines threshold. "
    "One explode + two hash-aggregates keyed on span then doc; span "
    "df table joins back on the span key (map-side combined)",
)
def dedup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.dedup import shingle_array_spark

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _span_sql(
            "SELECT DISTINCT doc_id, "
            f"explode({shingle_array_spark('text', k=SPAN_K)}) AS shingle FROM documents"
        )
    )


# --- span-level duplicate REMOVAL ---
# The transform behind the detection signal above (Lee et al. 2022 §4,
# exact-substring dedup): duplicated spans keep ONE canonical occurrence
# and are cut everywhere else. Deterministic canonicalization: a span
# recurring across documents keeps all its occurrences in the MIN doc_id
# that contains it; every other doc drops the token positions covered by
# that span (overlapping spans union their ranges). Cross-document spans
# only — an intra-doc repeat with no other doc is kept (the cross-doc
# signal dominates curation practice and keeps the rule SQL-replayable).
#
# Scale shape: positional explode + equi-joins only (the covered
# positions come from exploding sequence(start, start+k-1), never a
# range join); the canon table is one aggregate keyed on the span (hash
# the span text first at 100 TB); removal fanout is k × (duplicated
# spans), a small fraction of the corpus by construction.


def _span_remove_spark(k: int) -> str:
    arr = dedup.shingle_array_spark("text", k)
    return f"""
WITH spans AS (
  SELECT doc_id, pos, shingle
  FROM documents LATERAL VIEW posexplode({arr}) v AS pos, shingle
),
toks AS (
  SELECT doc_id, pos, tok
  FROM documents LATERAL VIEW posexplode(split(text, ' ')) v AS pos, tok
),
canon AS (
  SELECT shingle, min(doc_id) AS canon_doc
  FROM (SELECT DISTINCT doc_id, shingle FROM spans)
  GROUP BY shingle HAVING count(*) > 1
),
rmpos AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT s.doc_id, explode(sequence(s.pos, s.pos + {k - 1})) AS pos
    FROM spans s JOIN canon c ON s.shingle = c.shingle AND s.doc_id != c.canon_doc
  )
),
removed AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rmpos GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         array_join(transform(array_sort(collect_list(struct(t.pos, t.tok))),
                              s -> s.tok), ' ') AS cleaned_text
  FROM toks t LEFT JOIN rmpos r ON r.doc_id = t.doc_id AND r.pos = t.pos
  WHERE r.pos IS NULL
  GROUP BY t.doc_id
),
sizes AS (
  SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
)
SELECT d.doc_id, z.n_tokens, d.n_removed,
       coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       coalesce(k.cleaned_text, '') AS cleaned_text
FROM removed d
JOIN sizes z ON z.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
"""


def _span_remove_duck(k: int) -> str:
    arr = shingle_sql_duck("text", k)
    toks = "string_split(text, ' ')"
    return f"""
WITH spans AS (
  SELECT doc_id, unnest(range(len({arr}))) AS pos, unnest({arr}) AS shingle
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(range(len({toks}))) AS pos, unnest({toks}) AS tok
  FROM documents
),
canon AS (
  SELECT shingle, min(doc_id) AS canon_doc
  FROM (SELECT DISTINCT doc_id, shingle FROM spans)
  GROUP BY shingle HAVING count(*) > 1
),
rmpos AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT s.doc_id, unnest(range(s.pos, s.pos + {k})) AS pos
    FROM spans s JOIN canon c ON s.shingle = c.shingle AND s.doc_id != c.canon_doc
  )
),
removed AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rmpos GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         coalesce(string_agg(t.tok, ' ' ORDER BY t.pos), '') AS cleaned_text
  FROM toks t LEFT JOIN rmpos r ON r.doc_id = t.doc_id AND r.pos = t.pos
  WHERE r.pos IS NULL
  GROUP BY t.doc_id
),
sizes AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
)
SELECT d.doc_id, z.n_tokens, d.n_removed,
       coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       coalesce(k.cleaned_text, '') AS cleaned_text
FROM removed d
JOIN sizes z ON z.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
"""


@register(
    "dedup_span_remove",
    oracle=_span_remove_duck(SPAN_K),
    description="span-level duplicate removal (Lee et al. §4 semantics, "
    "cross-document): recurring k-token spans keep their min-doc_id "
    "canonical copy; other docs cut the covered token positions "
    "(overlaps unioned) and re-emit cleaned text + before/removed/kept "
    "token counts. Equi-joins + positional explodes only — no range "
    "join; removal fanout bounded by k × duplicated spans",
)
def dedup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_span_remove_spark(SPAN_K))


# --- exact set-similarity join via prefix filtering ---

PPJOIN_ORACLE = f"""
WITH sh AS ({_SH_DUCK}),
gdf AS (SELECT shingle, count(*) AS g FROM sh GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY g.g, s.shingle) AS rk,
         count(*) OVER (PARTITION BY s.doc_id) AS n
  FROM sh s JOIN gdf g ON s.shingle = g.shingle
),
prefix AS (
  SELECT doc_id, shingle FROM ranked
  WHERE rk <= n - CAST(ceil({JACCARD_T!r} * n) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.n_common,
       i.n_common / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_common / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_T!r}
"""


@register(
    "dedup_ppjoin",
    oracle=PPJOIN_ORACLE,
    description="EXACT set-similarity self-join via prefix filtering "
    "(PPJoin family): only each doc's rarest n−ceil(t·n)+1 shingles enter "
    "the inverted-index join — provably generates every pair with "
    "Jaccard ≥ t (no df cap, no lost pairs) while boilerplate shingles "
    "sort to the suffix and never join; brute-force equivalence asserted "
    "in tests",
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _near_shingles(spark, sf_dir)
    cand = dedup.prefix_filter_candidates(sh, "doc_id", JACCARD_T)
    return (
        dedup.jaccard_verify(cand, sh, "doc_id", JACCARD_T)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# --- SimHash near-dup ---

def _simhash_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    h = md5_int_duck("tok", salt="simhash")
    votes = ",\n       ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM ({NEAR_BASE_DUCK})
),
votes AS (
  SELECT doc_id, {votes}
  FROM toks GROUP BY doc_id
),
sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    description="SimHash(48-bit) near-dup, hamming ≤ 3 via pigeonhole band "
    "join (output provably identical to the oracle's brute-force all-pairs)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _near_base(spark, sf_dir)
    # re-spread the signature after its aggregate: AQE coalesces the tiny
    # post-agg output to ONE partition, and the checkpoint freezes that —
    # the downstream band explode + hamming probe (CPU-dense, broadcast
    # join) then ran single-task (measured 0.8 s, round 15). The 5.6k-row
    # round-robin shuffle is noise; the probe parallelizes across cores.
    sig = dedup.simhash(base, "doc_id", "text", bits=48).repartition(
        spark.sparkContext.defaultParallelism
    )
    # No lineage cuts here (round-15 measurement): every localCheckpoint
    # goes through .rdd, which under AQE executes all upstream query
    # stages as extra sequential jobs (~0.3 s fixed cost each). The band
    # self-join reuses the sig repartition exchange (ReuseExchange)
    # without one. Verified row-identical; p50 3.9 → 3.5 s.
    return dedup.simhash_near_pairs(sig, "doc_id", bits=48, max_hamming=3)


# --- containment near-dup (asymmetric: catches truncated copies) ---

CONTAIN_T = 0.9

CONTAINMENT_ORACLE = f"""
WITH sh0 AS ({_SH_DUCK}),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}
),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       i.n_common / least(za.n_sh, zb.n_sh) AS containment
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_common / least(za.n_sh, zb.n_sh) >= {CONTAIN_T!r}
"""


@register(
    "dedup_containment",
    oracle=CONTAINMENT_ORACLE,
    description="containment near-dup: |A∩B| / min(|A|,|B|) over the capped "
    "shingle index — the asymmetric measure that catches truncated/embedded "
    "copies whose symmetric Jaccard falls below threshold",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _capped_overlap(spark, sf_dir)
        .withColumn("containment", F.col("n_common") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= CONTAIN_T)
        .select("id_a", "id_b", "containment")
    )


# --- sorted-neighborhood near-dup (SNM blocking) ---
# The classic entity-resolution alternative to LSH banding (Hernandez &
# Stolfo, SIGMOD'95): sort the corpus by a blocking key, compare only
# rows within a sliding window of w neighbors, verify candidates with
# exact shingle Jaccard. Near-dups produced by truncation share their
# PREFIX, so a text-prefix key places them adjacently — one sorted pass
# finds them with w·n comparisons instead of n², and no hashing at all.
#
# The window join is implemented as overlapped rank-blocks: each row
# lands in block g = floor((rank−1)/w) AND block g+1, pairs equi-join on
# the block id, and the rank-distance filter keeps 0 < rb − ra ≤ w.
# Any pair within distance w shares at least one block (block size = w),
# so the candidate set is provably complete for the window — an
# EQUI-join, never a range join (no nested-loop at any scale).
#
# Scale (100 TB): the global row_number here is the oracle-exact test
# shape; at scan scale the sort is a range-partitioned ORDER BY (Spark's
# range exchange) and ranks become (partition offset + local rank) — the
# standard two-pass global index — or blocks are formed directly from
# range-bucket boundaries, since SNM only needs ADJACENCY, not exact
# global ranks. Window w and block fanout (2×) are constants; candidate
# verification is the same capped shingle join as the LSH family.

SNM_WINDOW = 4
SNM_KEYLEN = 32


def _snm_sql(base: str, shingle_unnest: str, ranked_src: str | None = None) -> str:
    # default: the oracle-exact single-partition window; the Spark side
    # passes a pre-ranked view from operators/ranking.global_row_number
    # (range-partitioned two-pass index — the 100 TB shape; equality
    # with the window ranks is pinned by test)
    #
    # /*+ MERGE(...) */ hints: every join side here is DATA-SHAPED (mem,
    # sh, sizes all carry one-plus rows per document), but Catalyst's
    # size estimate through the shingle explode is garbage-small, and at
    # sf10 it admitted the 25M-row shingle table as a BROADCAST build
    # side — OOM on a 24 GiB driver (round-5 measurement). The hints pin
    # sort-merge; DuckDB reads them as plain comments, so the oracle
    # text stays identical.
    ranked = (
        f"SELECT doc_id, rnk FROM {ranked_src}"
        if ranked_src
        else f"""SELECT doc_id,
         row_number() OVER (ORDER BY substring(text, 1, {SNM_KEYLEN}), doc_id)
           AS rnk
  FROM base"""
    )
    base_cte = f"base AS ({base}),\n" if not ranked_src else ""
    return f"""
WITH {base_cte}ranked AS (
  {ranked}
),
mem AS (
  SELECT doc_id, rnk,
         CAST(floor((rnk - 1) / {SNM_WINDOW}.0e0) AS BIGINT) AS g
  FROM ranked
  UNION ALL
  SELECT doc_id, rnk,
         CAST(floor((rnk - 1) / {SNM_WINDOW}.0e0) AS BIGINT) + 1 AS g
  FROM ranked
),
cand AS (
  SELECT /*+ MERGE(a), MERGE(b) */ DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mem a JOIN mem b
    ON a.g = b.g AND b.rnk - a.rnk BETWEEN 1 AND {SNM_WINDOW}
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM ({shingle_unnest}) t
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT /*+ MERGE(x), MERGE(y) */ c.id_a, c.id_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT /*+ MERGE(za), MERGE(zb) */ i.id_a, i.id_b,
       CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_T!r}
"""


def _snm_shingles_spark() -> str:
    return (
        f"SELECT doc_id, explode({dedup.shingle_array_spark('text')}) AS shingle "
        f"FROM ({NEAR_BASE_SPARK})"
    )


def _snm_shingles_duck() -> str:
    return (
        f"SELECT doc_id, unnest({shingle_sql_duck('text')}) AS shingle "
        f"FROM ({NEAR_BASE_DUCK})"
    )


@register(
    "dedup_sorted_neighborhood",
    oracle=_snm_sql(NEAR_BASE_DUCK, _snm_shingles_duck()),
    description="sorted-neighborhood near-dup (SNM blocking): corpus "
    f"sorted by a {SNM_KEYLEN}-char text-prefix key, sliding window of "
    f"{SNM_WINDOW} neighbors via overlapped rank-blocks (equi-join, "
    "provably window-complete, never a range join), candidates verified "
    "with exact shingle Jaccard — the no-hashing alternative to LSH "
    "banding for truncation/prefix-preserving duplicates",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators.ranking import global_row_number

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    base = spark.sql(NEAR_BASE_SPARK)
    ranked = global_row_number(
        base.selectExpr("doc_id", f"substring(text, 1, {SNM_KEYLEN}) AS k"),
        ["k", "doc_id"],
    )
    ranked.createOrReplaceTempView("snm_ranked")
    return spark.sql(
        _snm_sql(NEAR_BASE_SPARK, _snm_shingles_spark(), ranked_src="snm_ranked")
    )


# --- MinHash estimator quality audit (est vs exact Jaccard per pair) ---
# "Measure, don't guess" applied to the dedup sketch itself: for every
# LSH candidate pair, the MinHash ESTIMATE (matching signature
# components / H) next to the EXACT Jaccard from shingle sets, with the
# per-pair error. This is the query an operator runs before trusting
# NUM_HASHES/BANDS settings on a new corpus — the measured analogue of
# the 1/sqrt(H) error bound. est is an exact multiple of 1/12 (H a
# divisor of 64 would be exactly representable; 1/12 is not, but both
# engines compute the same division of the same integers), exact is the
# same integer ratio as dedup_minhash_lsh; abs_err subtracts identical
# doubles → bit-identical rows.
#
# Scale: candidate-bounded (the banding controls pair count); the
# signature rejoin is two broadcast-or-shuffle equi-joins on doc_id;
# component matching is NUM_HASHES integer comparisons per candidate.


def _estimate_audit_match() -> str:
    return " + ".join(
        f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(NUM_HASHES)
    )


def _estimate_audit_oracle() -> str:
    return f"""
{_minhash_cte_body()},
matches AS (
  SELECT i.id_a, i.id_b, i.n_common,
         CAST({_estimate_audit_match()} AS BIGINT) AS n_match
  FROM inter i
  JOIN sig a ON a.doc_id = i.id_a
  JOIN sig b ON b.doc_id = i.id_b
)
SELECT m.id_a, m.id_b,
       m.n_common / (za.n_sh + zb.n_sh - m.n_common) AS jaccard_exact,
       CAST(m.n_match AS DOUBLE) / {NUM_HASHES}.0e0 AS jaccard_est,
       abs(CAST(m.n_match AS DOUBLE) / {NUM_HASHES}.0e0
           - m.n_common / (za.n_sh + zb.n_sh - m.n_common)) AS abs_err
FROM matches m
JOIN sizes za ON za.doc_id = m.id_a
JOIN sizes zb ON zb.doc_id = m.id_b
"""


@register(
    "dedup_minhash_estimate_audit",
    oracle=_estimate_audit_oracle(),
    description="MinHash estimator quality audit: per LSH-candidate "
    "pair, the signature estimate (matching components / H) vs the "
    "exact shingle Jaccard with per-pair |error| — the measured check "
    "of the 1/sqrt(H) bound an operator runs before trusting H/bands "
    "on a new corpus; candidate-bounded cost, two signature rejoins",
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _near_shingles(spark, sf_dir)
    # shared: banding and both rejoin sides
    sig = cut(dedup.minhash_signature(sh, "doc_id", NUM_HASHES))
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, hot_width=256)
    # threshold 0.0: audit EVERY candidate with a non-empty intersection
    # (inner-join semantics on both engines drop zero-common pairs)
    verified = dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.0)
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(NUM_HASHES)],
    )
    match = " + ".join(
        f"CASE WHEN a_mh{j} = b_mh{j} THEN 1 ELSE 0 END" for j in range(NUM_HASHES)
    )
    est = f"CAST({match} AS DOUBLE) / {NUM_HASHES}.0e0"
    return (
        verified.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "jaccard AS jaccard_exact",
            f"{est} AS jaccard_est",
            f"abs({est} - jaccard) AS abs_err",
        )
    )


# --- LSH band-configuration sweep (the S-curve, measured) ---
# THE tuning query for MinHash dedup: with H = 12 signature components,
# every divisor split (b bands × r rows) trades precision against
# recall along the S-curve P(candidate) = 1 − (1 − J^r)^b. This sweep
# runs ALL four configs (12×1, 6×2, 4×3, 2×6) over one shared
# signature build and reports, per config: candidate count, verified-
# true count (exact Jaccard ≥ T), precision, and recall measured
# against the UNION of all configs' verified-true pairs (the honest
# denominator at scale — corpus-wide ground truth would be all-pairs;
# the 12×1 config's single-component candidates make the union a broad
# superset). "Measure, don't guess" applied to banding itself.
#
# Scale: one signature aggregate feeds all configs; exact verification
# runs ONCE over the deduped union of candidates, never per config.
# THREE bound guards, the first two found the hard way (the first
# drafts OOM'd at sf10 — the SNM/DBSCAN lesson class), the third the
# r9 adjudication's designed fix, built in r10:
# 1. SATURATION: buckets wider than SWEEP_MAX_BUCKET are EXCLUDED from
#    pair generation and REPORTED (n_sat_buckets / n_sat_docs). A
#    bucket that wide carries no tuning signal — its pairs are the
#    flood the sweep exists to warn about.
# 2. VERIFICATION BUDGET: the 12×1 config legitimately emits ~24M
#    candidates at 5M docs (max bucket width only 52 — saturation
#    never fires; the blowup was the exact-Jaccard verify join's
#    pairs×shingles fan-out). Per config, verification runs on a
#    DETERMINISTIC md5-budgeted sample: keep pair (a,b) iff
#    h·n_sampled < V·2^60 with h the 60-bit md5 of the id pair —
#    expected V verified pairs per config, EXACTLY all of them when
#    n_sampled ≤ V (so the correctness-SF rows are unsampled and
#    the cfg-4 ≡ dedup_minhash_lsh pin still holds). Precision/recall
#    are measured on the sample universe — identical integer
#    cross-multiply rule on both engines.
# 3. CANDIDATE CAP (r10, the VERDICT-r9 lever): the r9 idle-host
#    adjudication proved the candidate census grows ~11.9×/decade
#    INTRINSICALLY (bucket occupancy ∝ corpus at fixed band width ⇒
#    quadratic within-bucket pairs) — the repo's one known 100×-scale
#    cliff. Per config the sweep now computes the exact pair-universe
#    bound B = Σ_buckets w(w−1)/2 from the ok-bucket widths (one
#    G-row aggregate, no pairs materialized) and keeps an enumerated
#    pair iff h·B < CAP·2^60 (60-bit md5 of the id pair, salt
#    'sweepc', applied BEFORE the candidate DISTINCT — so the census
#    shuffle is ≤ ~CAP rows/config however big the corpus). When
#    B ≤ CAP the filter passes everything and the census stays EXACT
#    (all correctness SFs, and every config at sf1; only cfg 12×1
#    trips it at sf10). When capped, n_candidates is the unbiased
#    estimate n_sampled·B div CAP and the truncation is REPORTED:
#    n_cand_sampled (exact kept count), n_pairs_bound (B), capped
#    (0/1). A capped census still ranks configs — the sweep is a
#    tuning audit — and tests/test_dedup.py proves capped-vs-
#    uncapped ranking equivalence plus engine/oracle hash parity in
#    the capped regime.

SWEEP_BANDS = (12, 6, 4, 2)
SWEEP_MAX_BUCKET = 256
SWEEP_VERIFY_BUDGET = 100_000
SWEEP_CANDIDATE_CAP = 5_000_000
_H60 = 1 << 60


def _cap_pred_duck(cap: int | None) -> str:
    """AND-clause keeping pair (a,b) iff h·B < CAP·2⁶⁰ — the per-config
    candidate cap, exact integer cross-multiply (HUGEINT)."""
    if cap is None:
        return ""
    from posting_lines_spark.functions.hashing import md5_int_duck

    h = md5_int_duck(
        "concat(CAST(a.doc_id AS VARCHAR), '|', CAST(b.doc_id AS VARCHAR))",
        salt="sweepc",
    )
    return (
        f"\n      AND CAST({h} AS HUGEINT) * d.n_pairs_bound"
        f" < CAST({cap} AS HUGEINT) * {_H60}"
    )


def _band_sweep_oracle(cap: int | None = SWEEP_CANDIDATE_CAP) -> str:
    from posting_lines_spark.functions.hashing import cw_mix_sql, md5_limb_duck

    cap_lit = "NULL" if cap is None else str(cap)
    limbs = [f"l{i}" for i in range(4)]
    limb_cols = ", ".join(f"{md5_limb_duck('d', i)} AS l{i}" for i in range(4))
    mins = ",\n       ".join(
        f"min({cw_mix_sql(limbs, j)}) AS mh{j}" for j in range(NUM_HASHES)
    )
    cfg_selects = []
    for b in SWEEP_BANDS:
        rows = NUM_HASHES // b
        cfg_selects.append(
            "\nUNION ALL\n".join(
                f"SELECT {b} AS cfg, doc_id, {bi} AS band_idx, concat_ws(',', "
                + ", ".join(
                    f"CAST(mh{bi * rows + r} AS VARCHAR)" for r in range(rows)
                )
                + ") AS band_key FROM sig"
                for bi in range(b)
            )
        )
    all_bands = "\nUNION ALL\n".join(cfg_selects)
    return f"""
WITH sh AS MATERIALIZED ({_SH_DUCK}),
sig AS (
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id, {limb_cols}
    FROM (SELECT doc_id, md5(concat('mh|', shingle)) AS d FROM sh)
  )
  GROUP BY doc_id
),
bands AS MATERIALIZED ({all_bands}),
bsz AS MATERIALIZED (
  SELECT cfg, band_idx, band_key, CAST(count(*) AS BIGINT) AS width
  FROM bands GROUP BY cfg, band_idx, band_key
),
sat AS (
  SELECT cfg,
         CAST(count(CASE WHEN width > {SWEEP_MAX_BUCKET} THEN 1 END) AS BIGINT) AS n_sat_buckets,
         CAST(coalesce(sum(CASE WHEN width > {SWEEP_MAX_BUCKET} THEN width END), 0)
              AS BIGINT) AS n_sat_docs
  FROM bsz GROUP BY cfg
),
okb AS MATERIALIZED (
  SELECT b.cfg, b.doc_id, b.band_idx, b.band_key
  FROM bands b JOIN bsz z
    ON z.cfg = b.cfg AND z.band_idx = b.band_idx AND z.band_key = b.band_key
  WHERE z.width <= {SWEEP_MAX_BUCKET}
),
bnd AS (
  SELECT cfg,
         CAST(coalesce(sum(width * (width - 1) // 2), 0) AS BIGINT)
           AS n_pairs_bound
  FROM bsz WHERE width <= {SWEEP_MAX_BUCKET} GROUP BY cfg
),
cpairs AS MATERIALIZED (
  SELECT DISTINCT cfg, id_a, id_b
  FROM (
    SELECT a.cfg, a.doc_id AS id_a, b.doc_id AS id_b
    FROM okb a JOIN okb b USING (cfg, band_idx, band_key)
    JOIN bnd d ON d.cfg = a.cfg
    WHERE a.doc_id < b.doc_id{_cap_pred_duck(cap)}
  )
),
ccount AS (
  SELECT cfg, CAST(count(*) AS BIGINT) AS n_sampled
  FROM cpairs GROUP BY cfg
),
keep AS MATERIALIZED (
  SELECT c.cfg, c.id_a, c.id_b
  FROM cpairs c JOIN ccount n ON n.cfg = c.cfg
  WHERE CAST({md5_int_duck("concat(CAST(c.id_a AS VARCHAR), '|', CAST(c.id_b AS VARCHAR))", salt="sweepv")} AS DECIMAL(38,0))
          * n.n_sampled
        < CAST({SWEEP_VERIFY_BUDGET} AS DECIMAL(38,0)) * {_H60}
),
upairs AS (SELECT DISTINCT id_a, id_b FROM keep),
uinter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM upairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
truth AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM uinter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE i.n_common / (za.n_sh + zb.n_sh - i.n_common) >= {JACCARD_T!r}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_union_true FROM truth),
per_cfg AS (
  SELECT k.cfg,
         CAST(count(*) AS BIGINT) AS n_verified,
         CAST(count(t.id_a) AS BIGINT) AS n_true
  FROM keep k
  LEFT JOIN truth t ON t.id_a = k.id_a AND t.id_b = k.id_b
  GROUP BY k.cfg
)
SELECT CAST(s.cfg AS INT) AS bands,
       CAST({NUM_HASHES} / s.cfg AS INT) AS rows_per_band,
       CASE WHEN {cap_lit} IS NOT NULL
                 AND coalesce(d.n_pairs_bound, 0) > {cap_lit}
            THEN CAST(CAST(coalesce(n.n_sampled, 0) AS HUGEINT)
                      * d.n_pairs_bound // {cap_lit} AS BIGINT)
            ELSE coalesce(n.n_sampled, 0) END AS n_candidates,
       coalesce(n.n_sampled, 0) AS n_cand_sampled,
       coalesce(d.n_pairs_bound, 0) AS n_pairs_bound,
       CASE WHEN {cap_lit} IS NOT NULL
                 AND coalesce(d.n_pairs_bound, 0) > {cap_lit}
            THEN 1 ELSE 0 END AS capped,
       coalesce(p.n_verified, 0) AS n_verified,
       coalesce(p.n_true, 0) AS n_true, x.n_union_true,
       s.n_sat_buckets, s.n_sat_docs,
       CAST(coalesce(p.n_true, 0) AS DOUBLE)
         / nullif(CAST(coalesce(p.n_verified, 0) AS DOUBLE), 0e0)
         AS precision,
       CAST(coalesce(p.n_true, 0) AS DOUBLE)
         / nullif(CAST(x.n_union_true AS DOUBLE), 0e0)
         AS recall_vs_union
FROM sat s
LEFT JOIN ccount n ON n.cfg = s.cfg
LEFT JOIN bnd d ON d.cfg = s.cfg
LEFT JOIN per_cfg p ON p.cfg = s.cfg
CROSS JOIN tot x
"""


@register(
    "dedup_lsh_band_sweep",
    oracle=_band_sweep_oracle(),
    description=f"MinHash LSH band-configuration sweep over all four "
    f"H=12 divisor splits {SWEEP_BANDS}: per config, candidate census "
    "(exact below the 5M/config cap — every correctness SF and sf1; "
    "md5-rate-capped with REPORTED truncation above it, the r10 fix "
    "for the intrinsic ~12×/decade candidate growth) + verified-true/"
    "precision/recall on a deterministic md5-budgeted verification "
    "sample (exact below V=100k), saturation-guarded buckets, "
    "shuffle-hash-pinned bucket join; one shared signature build, "
    "verification once over the deduped kept union — the measured "
    "S-curve an operator tunes banding with",
)
def dedup_lsh_band_sweep(
    spark: SparkSession, sf_dir: str, cap: int | None = SWEEP_CANDIDATE_CAP
) -> DataFrame:
    sh = _near_shingles(spark, sf_dir)
    # sig has one consumer (the band explode below), so no cut
    sig = dedup.minhash_signature(sh, "doc_id", NUM_HASHES)
    # ALL 24 (cfg, band) keys from ONE projection + explode — the
    # union-of-lsh_candidate_pairs form planned 24 scan branches and
    # ~180 exchanges (the dq_referential_integrity lesson); this shape
    # is one explode, ONE self-join shuffle, one distinct. (The salted
    # production path stays dedup.lsh_candidate_pairs; this is the
    # audit, and the 12×1 flood it measures is band-bounded.)
    # one selectExpr string instead of ~175 Column-API py4j round-trips
    # (~1-3 ms each) per construction — identical expression tree
    # (round-15 driver-time finding, same as operators/dedup.py)
    structs = ", ".join(
        "struct({b} AS cfg, {bi} AS band_idx, concat_ws(',', {cols})"
        " AS band_key)".format(
            b=b,
            bi=bi,
            cols=", ".join(
                f"CAST(mh{bi * (NUM_HASHES // b) + r} AS STRING)"
                for r in range(NUM_HASHES // b)
            ),
        )
        for b in SWEEP_BANDS
        for bi in range(b)
    )
    bands = cut(  # shared: bsz and okb
        sig.selectExpr("doc_id", f"explode(array({structs})) AS x")
        .selectExpr("doc_id", "x.cfg", "x.band_idx", "x.band_key")
    )
    # saturation guard: buckets wider than SWEEP_MAX_BUCKET are
    # excluded from pair generation and reported (the first draft
    # OOM'd at sf10 on the 12×1 config's quadratic buckets)
    bsz = cut(  # shared: sat, okb and bnd
        bands.groupBy("cfg", "band_idx", "band_key").agg(
            F.count(F.lit(1)).cast("long").alias("width")
        )
    )
    sat = bsz.groupBy("cfg").agg(
        F.sum(F.when(F.col("width") > SWEEP_MAX_BUCKET, 1).otherwise(0))
        .cast("long")
        .alias("n_sat_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("width") > SWEEP_MAX_BUCKET, F.col("width"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_sat_docs"),
    )
    # shuffle-hash pin: Catalyst's post-aggregation size estimate for
    # bsz admits a broadcast that OOMs at sf10 (bsz has one row per
    # BUCKET — millions; the SNM r5 / DBSCAN r6 lesson class)
    okb = bands.join(
        bsz.filter(F.col("width") <= SWEEP_MAX_BUCKET).hint("shuffle_hash"),
        ["cfg", "band_idx", "band_key"],
    ).select("cfg", "band_idx", "band_key", "doc_id")
    # per-config pair-universe bound B = Σ w(w−1)/2 over ok buckets —
    # one G-row aggregate; the candidate cap's sampling denominator
    bnd = (
        bsz.filter(F.col("width") <= SWEEP_MAX_BUCKET)
        .groupBy("cfg")
        .agg(
            F.coalesce(
                F.sum(F.expr("width * (width - 1) div 2")), F.lit(0)
            )
            .cast("long")
            .alias("n_pairs_bound")
        )
    )
    a = okb.select(
        F.col("doc_id").alias("id_a"), "cfg", "band_idx", "band_key"
    )
    b_side = okb.select(
        F.col("doc_id").alias("id_b"), "cfg", "band_idx", "band_key"
    )
    from posting_lines_spark.functions.hashing import md5_int_spark

    raw_pairs = a.join(b_side, ["cfg", "band_idx", "band_key"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if cap is not None:
        # candidate cap: keep (a,b) iff h·B < CAP·2⁶⁰, applied BEFORE
        # the distinct so the census shuffle is ≤ ~CAP rows/config —
        # the r10 fix for the intrinsic ~12×/decade candidate growth.
        # Exact pass-through when B ≤ CAP (same 60-bit md5 idiom as
        # the verify budget; independent salt).
        hcap = F.expr(
            md5_int_spark(
                "concat(CAST(id_a AS STRING), '|', CAST(id_b AS STRING))",
                salt="sweepc",
            )
        ).cast("decimal(38,0)")
        raw_pairs = raw_pairs.join(F.broadcast(bnd), "cfg").filter(
            hcap * F.col("n_pairs_bound")
            < F.lit(cap).cast("decimal(38,0)") * F.lit(_H60)
        )
    cpairs = cut(raw_pairs.select("cfg", "id_a", "id_b").distinct())  # shared: ccount and keep
    ccount = cpairs.groupBy("cfg").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    h60 = F.expr(
        md5_int_spark(
            "concat(CAST(id_a AS STRING), '|', CAST(id_b AS STRING))",
            salt="sweepv",
        )
    ).cast("decimal(38,0)")
    keep = cut(  # shared: upairs (→ truth) and per_cfg
        cpairs.join(F.broadcast(ccount), "cfg")
        .filter(
            h60 * F.col("n_sampled")
            < F.lit(SWEEP_VERIFY_BUDGET).cast("decimal(38,0)") * F.lit(_H60)
        )
        .select("cfg", "id_a", "id_b")
    )
    # keyed explicit repartition: the verify joins otherwise run on ONE
    # AQE-coalesced post-shuffle partition (~1 MB of pairs in, millions
    # of joined shingle rows of work inside the stage — coalescing
    # decides by input bytes and cannot see the fanout); an explicit
    # partition count is exempt from coalescing and the first join
    # reuses the partitioning (round-15 profile: 1.9 s single-task
    # stage → wide)
    upairs = (
        keep.select("id_a", "id_b")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "id_a")
    )
    # shared: tot and per_cfg. EAGER: the final job schedules the two
    # sibling subtrees CONCURRENTLY — with a lazy cut both stages raced
    # to compute the same blocks and the whole verify pipeline ran twice
    # (round-15 profile: two ~1.9 s twin stages).
    truth = cut(
        dedup.jaccard_verify(upairs, sh, "doc_id", threshold=0.0)
        .filter(F.col("jaccard") >= F.lit(JACCARD_T))
        .select("id_a", "id_b"),
        eager=True,
    )
    tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_union_true"))
    per_cfg = (
        keep.join(
            truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_verified"),
            F.count("_t").cast("long").alias("n_true"),
        )
    )
    n_sampled0 = F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long")
    bound0 = F.coalesce(F.col("n_pairs_bound"), F.lit(0)).cast("long")
    if cap is not None:
        is_capped = bound0 > F.lit(cap)
        census = F.when(
            is_capped,
            F.expr(
                f"CAST(CAST(coalesce(n_sampled, 0) AS DECIMAL(19,0))"
                f" * coalesce(n_pairs_bound, 0) div {cap} AS BIGINT)"
            ),
        ).otherwise(n_sampled0)
    else:
        is_capped = F.lit(False)
        census = n_sampled0
    return (
        sat.join(F.broadcast(ccount), "cfg", "left")
        .join(F.broadcast(bnd), "cfg", "left")
        .join(F.broadcast(per_cfg), "cfg", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cfg").cast("int").alias("bands"),
            (F.lit(NUM_HASHES) / F.col("cfg")).cast("int").alias("rows_per_band"),
            census.cast("long").alias("n_candidates"),
            n_sampled0.alias("n_cand_sampled"),
            bound0.alias("n_pairs_bound"),
            F.when(is_capped, F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("capped"),
            F.coalesce(F.col("n_verified"), F.lit(0))
            .cast("long")
            .alias("n_verified"),
            F.coalesce(F.col("n_true"), F.lit(0)).cast("long").alias("n_true"),
            "n_union_true",
            "n_sat_buckets",
            "n_sat_docs",
            (
                F.coalesce(F.col("n_true"), F.lit(0)).cast("double")
                / F.nullif(
                    F.coalesce(F.col("n_verified"), F.lit(0)).cast("double"),
                    F.lit(0.0),
                )
            ).alias("precision"),
            (
                F.coalesce(F.col("n_true"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_union_true").cast("double"), F.lit(0.0))
            ).alias("recall_vs_union"),
        )
    )


# --- hot-band salting under the correctness gate (wave 32) ---
# The boilerplate-bucket lever (lsh_candidate_pairs hot_width) has been
# output-equivalence-tested on fixtures and measured on the round-13
# skew corpora — but the driver's oracle gate never EXECUTED the hot
# path, because the shipped corpus has no bucket wider than hot_width.
# This query builds a boilerplate cluster in-query (every doc gains a
# disclaimer twin: 13 shared words + one of 7 variant suffixes — the
# legal-footer shape real corpora drown in), arms a deliberately small
# hot_width=32 so the cluster's band buckets are ALL hot, and emits a
# bucket census + the candidate-pair count. The ORACLE computes the
# pair set with the PLAIN band self-join — so every driver round now
# proves the blocked (salted) pair generation ≡ the naive quadratic
# one on a corpus where the hot path genuinely runs.
#
# Scale: the blocked join bounds per-key width at w·hot_width; the
# bucket census is a band-key window (bucket-count-bounded).

HOT_WIDTH = 32

_BOIL_TEXT = (
    "standard disclaimer boilerplate text all rights reserved "
    "contact support for assistance version"
)

# The boilerplate cluster is SF-INDEPENDENT (the 96 lowest doc_ids):
# wide enough that every cluster bucket is hot (96 > hot_width=32) at
# any scale factor, but bounded so the query itself stays linear — a
# corpus-proportional cluster would make the candidate-pair set (and
# the oracle's quadratic self-join) grow as corpus², which is the
# disease this lever treats, not a fixture to ship (first cut did
# exactly that: at sf1 the 50k-wide twin cluster meant 1.25e9 pairs).
_BOIL_N = 96

# Twin ids are offset by max(doc_id)+1 DERIVED FROM THE DATA (not a
# fixed constant): a fixed +100000 collides with real doc_ids on
# corpora with >100k docs or non-zero-based ids, silently merging
# shingle sets per doc_id (parity would still hold — both sides share
# the union — but the "every cluster bucket hot" property could
# degrade unnoticed). A scalar subquery works identically in Spark
# SQL and DuckDB.
_BOIL_SPARK = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
       concat('{_BOIL_TEXT} ', CAST(doc_id % 7 AS STRING)) AS text
FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_BOIL_N}) t
"""
_BOIL_DUCK = _BOIL_SPARK.replace("AS STRING", "AS VARCHAR")


def _hot_salted_oracle() -> str:
    from posting_lines_spark.functions.hashing import cw_mix_sql, md5_limb_duck

    limbs = [f"l{i}" for i in range(4)]
    limb_cols = ", ".join(f"{md5_limb_duck('d', i)} AS l{i}" for i in range(4))
    mins = ",\n       ".join(
        f"min({cw_mix_sql(limbs, j)}) AS mh{j}" for j in range(NUM_HASHES)
    )
    rows = NUM_HASHES // BANDS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws(',', "
        + ", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(BANDS)
    )
    sh = f"""
SELECT DISTINCT doc_id, unnest({shingle_sql_duck('text')}) AS shingle
FROM ({_BOIL_DUCK})
"""
    return f"""
WITH sh AS ({sh}),
sig AS (
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id, {limb_cols}
    FROM (SELECT doc_id, md5(concat('mh|', shingle)) AS d FROM sh)
  )
  GROUP BY doc_id
),
bands AS ({band_selects}),
widths AS (
  SELECT band_idx, band_key, CAST(count(*) AS BIGINT) AS w
  FROM bands GROUP BY band_idx, band_key
),
census AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN w > {HOT_WIDTH} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hot_buckets,
         CAST(max(w) AS BIGINT) AS max_bucket_width
  FROM widths
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs FROM pairs),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM ({_BOIL_DUCK}))
SELECT nd.n_docs, c.n_buckets, c.n_hot_buckets, c.max_bucket_width,
       CAST({HOT_WIDTH} AS BIGINT) AS hot_width, np.n_candidate_pairs
FROM nd CROSS JOIN census c CROSS JOIN np
"""


@register(
    "dedup_lsh_hot_salted",
    oracle=_hot_salted_oracle(),
    description="LSH hot-band salting EXECUTED under the oracle gate: "
    "an in-query boilerplate cluster (each doc gains a 13-word "
    f"disclaimer twin, 7 suffix variants) with hot_width={HOT_WIDTH} "
    "forces every cluster bucket through the blocked self-join "
    "(_blocked_self_pairs — per-key width bounded at w·hot_width, not "
    "w²); the oracle computes the pair set with the PLAIN quadratic "
    "band self-join, so each driver round re-proves the salted pair "
    "generation output-identical on a corpus where the hot path "
    "genuinely runs; bucket census (n_hot_buckets ≥ 1 by construction) "
    "reported in-band",
)
def dedup_lsh_hot_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    base = cut(spark.sql(_BOIL_SPARK))  # shared: shingles (→ sig) and the nd count
    sig = cut(  # shared: the width census and lsh_candidate_pairs
        dedup.minhash_signature(
            dedup.shingles(base, "doc_id", "text", distinct=False), "doc_id", NUM_HASHES
        )
    )
    bands = dedup.band_signatures(sig, "doc_id", NUM_HASHES, BANDS)
    widths = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    census = widths.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("w") > HOT_WIDTH, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_buckets"),
        F.max("w").cast("long").alias("max_bucket_width"),
    )
    pairs = dedup.lsh_candidate_pairs(
        sig, "doc_id", NUM_HASHES, BANDS, hot_width=HOT_WIDTH
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
    nd = base.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        nd.crossJoin(F.broadcast(census))
        .withColumn("hot_width", F.lit(HOT_WIDTH).cast("long"))
        .crossJoin(F.broadcast(np_))
    )
