"""Text-analysis queries over `documents` (the training-data-pipeline
operators from the driver's north star): language-ID scoring, quality
scoring, tokenization stats, document fingerprinting.

Note on the corpus: the synthetic texts share one vocabulary across all
`lang` labels, so no classifier can recover the labels — the queries
demonstrate the *mechanics* (marker-count scoring, argmax with
deterministic tie-break, ratio features) with fully deterministic output.
All arithmetic is int counts + divisions of identical values → exact
cross-engine parity; no decimal routing needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import md5_int_duck, md5_int_spark
from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.queries.dedup_q import shingle_sql_duck
from posting_lines_spark.operators.dedup import shingle_array_spark
from posting_lines_spark.sources import load_table

# language marker words (function words per language; the en set matches
# this corpus' actual function words)
MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "y"],
    "fr": ["le", "la", "les", "et", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["的", "是", "了", "在", "和"],
}


def _score_spark(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in MARKERS[lang])
    return f"size(filter(split(text, ' '), t -> t IN ({lst})))"


def _score_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({lst})))"


def _argmax(score_of) -> str:
    """CASE argmax over langs, priority order = MARKERS order (ties go to
    the earlier language — deterministic)."""
    langs = list(MARKERS)
    out = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        later = langs[langs.index(lang) + 1 :]
        cond = " AND ".join(f"{score_of(lang)} >= {score_of(lg)}" for lg in later)
        out = f"CASE WHEN {cond} THEN '{lang}' ELSE {out} END"
    return out


LANG_ID_ORACLE = f"""
SELECT predicted_lang, lang AS actual_lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM (
  SELECT lang, {_argmax(_score_duck)} AS predicted_lang
  FROM documents
)
GROUP BY 1, 2
"""


@register(
    "text_lang_id",
    oracle=LANG_ID_ORACLE,
    description="language-ID heuristic: per-language marker-word counts + "
    "deterministic argmax; confusion-matrix output (north-star text op)",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        SELECT predicted_lang, lang AS actual_lang, count(*) AS n_docs,
               sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS n_correct
        FROM (SELECT lang, {_argmax(_score_spark)} AS predicted_lang FROM documents)
        GROUP BY 1, 2
        """
    )


QUALITY_ORACLE = """
SELECT doc_id,
       n_tokens,
       n_distinct_tokens,
       CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS lexical_diversity,
       CAST(n_chars_actual AS DOUBLE) / n_tokens AS mean_token_len,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CASE WHEN n_tokens >= 30
             AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens >= 0.3e0
             AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01e0
            THEN 1 ELSE 0 END AS passes_quality
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         length(replace(text, ' ', '')) AS n_chars_actual,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
  FROM documents
)
"""


@register(
    "text_quality",
    oracle=QUALITY_ORACLE,
    description="document quality scoring: length/diversity/stopword-ratio "
    "features + threshold gate (north-star text op; pure column math, no UDF)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id,
               n_tokens,
               n_distinct_tokens,
               CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS lexical_diversity,
               CAST(n_chars_actual AS DOUBLE) / n_tokens AS mean_token_len,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               CASE WHEN n_tokens >= 30
                     AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens >= 0.3e0
                     AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01e0
                    THEN 1 ELSE 0 END AS passes_quality
        FROM (
          SELECT doc_id,
                 CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
                 CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_actual,
                 CAST(size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
          FROM documents
        )
        """
    )


TOKEN_STATS_ORACLE = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS total_re_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


@register(
    "text_token_stats",
    oracle=TOKEN_STATS_ORACLE,
    description="token counting per source: whitespace tokens + regex "
    "(BPE-ish pretokenizer) tokens + char totals (north-star text op)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_ws_tokens"),
            F.sum(F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))).alias(
                "total_re_tokens"
            ),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


FINGERPRINT_ORACLE = f"""
SELECT doc_id, min({md5_int_duck('shingle', salt='fp')}) AS fingerprint
FROM (
  SELECT DISTINCT doc_id, unnest({shingle_sql_duck('text', k=5)}) AS shingle
  FROM documents
)
GROUP BY doc_id
"""


@register(
    "text_fingerprint",
    oracle=FINGERPRINT_ORACLE,
    description="document fingerprinting: min-sampled 5-gram rolling hash "
    "(winnowing-style single-value signature; north-star text op)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # single-file source → fan out
    )
    # no distinct: MIN is duplicate-insensitive, so the explode feeds the
    # partial aggregate directly (map-side combine, no extra shuffle)
    sh = d.select(
        "doc_id", F.explode(F.expr(shingle_array_spark("text", k=5))).alias("shingle")
    )
    return (
        sh.groupBy("doc_id")
        .agg(F.min(F.expr(md5_int_spark("shingle", salt="fp"))).alias("fingerprint"))
    )


# --- normalization scrub pass ---
# The canonicalization step every curation pipeline runs before hashing/
# dedup: lowercase, collapse whitespace runs, trim. Byte-level digests
# of the normalized text prove both engines produced identical output
# (normalization feeding dedup must be bit-stable or signatures drift).

# Spark regexp_replace is global by default; DuckDB needs the 'g' flag
# (same split as text_pii_redact)
def _normalize_sql(flag: str) -> str:
    return f"""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(concat('  ', text, '   x  ', upper(text))),
                             ' +', ' '{flag})) AS norm_text
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(norm_text)) AS BIGINT) AS total_chars,
       min(md5(norm_text)) AS min_digest,
       max(md5(norm_text)) AS max_digest
FROM norm
GROUP BY source
"""


@register(
    "text_normalize",
    oracle=_normalize_sql(", 'g'"),
    description="text normalization scrub: lowercase + whitespace-run "
    "collapse + trim over a deterministically-dirtied corpus (padding and "
    "case noise injected inline so the pass demonstrably fires); md5 "
    "digests prove byte-identical normalization — required upstream of "
    "content-hash dedup. Pure map, no shuffle before the rollup",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_normalize_sql(""))


# --- repetition filters (Gopher-style quality rules) ---
# Rae et al. 2021 ("Gopher") filter docs by repeated-content fractions:
# most-frequent-token share, duplicate n-gram share. All features here are
# ratios of per-doc integer counts (identical ints → identical double
# division on both engines), so the query is exactly oracle-checkable.

REP_TOP_TOKEN_MAX = "0.12e0"
REP_DUP_BIGRAM_MAX = "0.05e0"


def _repetition_sql(tok_explode: str, bigram_explode: str) -> str:
    return f"""
WITH tc AS (
  SELECT doc_id, tok, count(*) AS c FROM ({tok_explode}) GROUP BY doc_id, tok
),
tok_stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         CAST(max(c) AS BIGINT) AS top_token_cnt
  FROM tc GROUP BY doc_id
),
bc AS (
  SELECT doc_id, bg, count(*) AS c FROM ({bigram_explode}) GROUP BY doc_id, bg
),
bi_stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(max(c) AS BIGINT) AS top_bigram_cnt
  FROM bc GROUP BY doc_id
)
SELECT t.doc_id,
       n_tokens,
       CAST(top_token_cnt AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams AS dup_bigram_frac,
       CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_frac,
       CAST(CASE WHEN CAST(top_token_cnt AS DOUBLE) / n_tokens <= {REP_TOP_TOKEN_MAX}
                  AND CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams <= {REP_DUP_BIGRAM_MAX}
                 THEN 1 ELSE 0 END AS BIGINT) AS passes_repetition
FROM tok_stats t JOIN bi_stats b ON t.doc_id = b.doc_id
"""


REPETITION_ORACLE = _repetition_sql(
    "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents",
    f"SELECT doc_id, unnest({shingle_sql_duck('text', k=2)}) AS bg FROM documents",
)


@register(
    "text_repetition",
    oracle=REPETITION_ORACLE,
    description="Gopher-style repetition quality filters: most-frequent-"
    "token share, duplicate-bigram share, top-bigram share per doc + a "
    "threshold gate. Two explode→count pipelines (shuffle keyed on "
    "(doc_id, gram) with map-side combine, then doc_id) joined on doc_id "
    "— scales linearly with total token count",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _repetition_sql(
            "SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents",
            f"SELECT doc_id, explode({shingle_array_spark('text', k=2)}) AS bg FROM documents",
        )
    )


# --- PII-style redaction (curation-pipeline scrub pass) ---
# The corpus has no natural PII, so each doc gets deterministic synthetic
# contact info appended (identical derivation on both engines); the
# redaction regexes then demonstrably fire on every row.

_PII_BASE = (
    "SELECT doc_id, source, text || ' contact user' || CAST(doc_id AS {str_t}) "
    "|| '@mail.example or call 555-0' || CAST(doc_id AS {str_t}) AS text "
    "FROM documents"
)

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE_RE = "555-[0-9]+"

REDACT_ORACLE = f"""
WITH base AS ({_PII_BASE.format(str_t='VARCHAR')}),
red AS (
  SELECT source, text,
         regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM base
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN redacted != text THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
       CAST(sum(length(text)) AS BIGINT) AS chars_before,
       CAST(sum(length(redacted)) AS BIGINT) AS chars_after
FROM red GROUP BY source
"""

REDACT_SPARK = f"""
WITH base AS ({_PII_BASE.format(str_t='STRING')}),
red AS (
  SELECT source, text,
         regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>'),
                        '{_PHONE_RE}', '<PHONE>') AS redacted
  FROM base
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN redacted != text THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
       CAST(sum(length(text)) AS BIGINT) AS chars_before,
       CAST(sum(length(redacted)) AS BIGINT) AS chars_after
FROM red GROUP BY source
"""


@register(
    "text_pii_redact",
    oracle=REDACT_ORACLE,
    description="PII-style scrub pass: email/phone regexp redaction over "
    "the corpus (Spark replaces globally by default; the oracle passes "
    "the 'g' flag for the same semantics) — counts and char deltas prove "
    "every row was processed",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(REDACT_SPARK)


# --- fuzzy (edit-distance) join ---
# The reference's `name VARCHAR(20)` column (sql_to_line.py:196) is noisy
# AIS vessel text; matching it across reports is a fuzzy join. Scale
# shape: candidates from a character-bigram inverted index (equi-join on
# the gram), exact levenshtein ≤ K verification on candidates only.
# Completeness is provable, not assumed: a length-n string has n-1
# bigrams and one edit destroys at most 2 of them, so any pair within
# K=2 edits shares ≥ n-1-2K ≥ 1 bigram once n ≥ 6 ("VESSEL_x" is ≥ 8)
# — the bigram join therefore yields a candidate superset and the
# verified output equals the brute-force cross join, which is the
# oracle. Worst case for selectivity is exactly this corpus (uniform
# "VESSEL_" prefix → shared grams everywhere); realistic name corpora
# prune far harder, and a PPJoin-style rarest-gram prefix (already in
# operators/dedup.py) is the drop-in upgrade when they don't.

FUZZY_K = 2


def _fuzzy_corpus(cast_str: str, gen: str) -> str:
    # 300 canonical vessel names + 3 deterministic corruption modes
    # (deletion / substitution / insertion), identical rows on both engines
    return f"""
SELECT i, concat('VESSEL_', CAST(i AS {cast_str})) AS name FROM ({gen})
UNION ALL
SELECT i + 1000 AS i,
       CASE WHEN i % 3 = 0 THEN concat('VESSEL', CAST(i AS {cast_str}))
            WHEN i % 3 = 1 THEN concat('VESSEL#', CAST(i AS {cast_str}))
            ELSE concat('XVESSEL_', CAST(i AS {cast_str})) END AS name
FROM ({gen})
"""


def _fuzzy_sql(corpus: str, grams: str) -> str:
    return f"""
WITH names AS ({corpus}),
g AS ({grams}),
cand AS (
  SELECT DISTINCT a.i AS id_a, b.i AS id_b
  FROM g a JOIN g b ON a.gram = b.gram
  WHERE a.i < 1000 AND b.i >= 1000
),
v AS (
  SELECT c.id_a, c.id_b, na.name AS name_a, nb.name AS name_b,
         CAST(levenshtein(na.name, nb.name) AS BIGINT) AS lev
  FROM cand c
  JOIN names na ON na.i = c.id_a
  JOIN names nb ON nb.i = c.id_b
)
SELECT id_a, id_b, name_a, name_b, lev
FROM v
WHERE lev <= {FUZZY_K}
"""


_FUZZY_ORACLE_CORPUS = _fuzzy_corpus("VARCHAR", "SELECT unnest(range(0, 300)) AS i")

# The oracle is the BRUTE-FORCE cross join (no bigram candidate filter), so
# a completeness bug in the Spark side's q-gram prefilter would show up as a
# parity mismatch — the candidate-generation claim is independently verified.
_FUZZY_ORACLE_CROSS = f"""
WITH names AS ({_FUZZY_ORACLE_CORPUS})
SELECT a.i AS id_a, b.i AS id_b, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
FROM names a CROSS JOIN names b
WHERE a.i < 1000 AND b.i >= 1000
  AND levenshtein(a.name, b.name) <= {FUZZY_K}
"""
_FUZZY_SPARK_CORPUS = _fuzzy_corpus(
    "STRING", "SELECT explode(sequence(CAST(0 AS BIGINT), CAST(299 AS BIGINT))) AS i"
)
_FUZZY_SPARK_GRAMS = """
SELECT DISTINCT i, substring(name, CAST(p AS INT), 2) AS gram
FROM (SELECT i, name, explode(sequence(1, length(name) - 1)) AS p FROM names)
"""


@register(
    "fuzzy_join_levenshtein",
    oracle=_FUZZY_ORACLE_CROSS,
    description="fuzzy edit-distance join: bigram inverted-index "
    "candidates (provably complete for lev ≤ 2 on names ≥ 6 chars: one "
    "edit destroys ≤ 2 of the n−1 bigrams) + exact levenshtein verify — "
    "the oracle IS the brute-force cross join, so the candidate filter's "
    "completeness is independently checked; the q-gram/verify shape "
    "every scale fuzzy join uses",
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_fuzzy_sql(_FUZZY_SPARK_CORPUS, _FUZZY_SPARK_GRAMS))


# --- corpus-trained bigram LM quality score (CCNet-style perplexity) ---
# The quality-filter stage real curation pipelines run (CCNet/KenLM):
# score each document by the cross-entropy of its word bigrams under a
# language model — here an add-one-smoothed bigram LM trained on the
# corpus ITSELF (no external model in this container), which is the
# same shape: low xent = fluent/common phrasing, high xent = rare or
# garbled text. p(w2|w1) = (c12 + 1) / (c1 + V).
#
# Cross-engine parity is the hard part: ln() is not IEEE-specified, so
# xent goes through functions/dmath.py's deterministic integer-ln kernel
# (decimal range reduction + anchor + atanh Horner; bit-identical
# Spark↔DuckDB, 1-ulp accurate). Both ln arguments are INTEGERS
# (c12+1, c1+V), the per-bigram logprob is their ln difference, and the
# per-doc sum folds in token-position order — every float op identical
# on both engines.
#
# Scale shape: one window pass builds bigrams (no self-join), two
# hash-aggregates train the model (keyed w1,w2 / w1 — map-side combined),
# one equi-join scores instances, one per-doc fold. The model table is
# corpus-bigram-cardinality; at 100 TB you'd prune it to the top-V rows
# by count (the standard LM cutoff) before the scoring join — the join
# stays an equi-join either way.


def _lm_stage_layers() -> tuple[str, str]:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    return dln_int_cte_layers([("na", "na"), ("nb", "nb")], "m0", "m")


def _lm_chain(toks: str, fold: str) -> str:
    """The shared LM CTE chain ending at `lmscore` (doc_id, n_bigrams,
    xent_nats) — reused by text_lm_score and the LM-gated curation
    pipeline (curation_q.curation_pipeline_lm)."""
    layers, last = _lm_stage_layers()
    return f"""
WITH toks AS ({toks}),
big AS (
  SELECT doc_id, pos, w1, w2 FROM (
    SELECT doc_id, pos, tok AS w1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
  ) t WHERE w2 IS NOT NULL
),
cnt12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
cnt1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
vocab AS (SELECT count(DISTINCT w2) AS v FROM big),
m0 AS (
  SELECT c.w1, c.w2, CAST(c.c12 + 1 AS BIGINT) AS na,
         CAST(o.c1 + vocab.v AS BIGINT) AS nb
  FROM cnt12 c JOIN cnt1 o ON c.w1 = o.w1 CROSS JOIN vocab
),
{layers},
lp AS (SELECT w1, w2, (na_ln - nb_ln) AS lp FROM {last}),
inst AS (
  SELECT b.doc_id, b.pos, l.lp
  FROM big b JOIN lp l ON b.w1 = l.w1 AND b.w2 = l.w2
),
perdoc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, {fold} AS sum_lp
  FROM inst GROUP BY doc_id
),
lmscore AS (
  SELECT doc_id, n_bigrams,
         (0e0 - (sum_lp / CAST(n_bigrams AS DOUBLE))) AS xent_nats
  FROM perdoc
)"""


def _lm_sql(toks: str, fold: str) -> str:
    return (
        _lm_chain(toks, fold)
        + "\nSELECT doc_id, n_bigrams, xent_nats FROM lmscore"
    )


_LM_TOKS_SPARK = (
    "SELECT doc_id, pos, tok FROM documents "
    "LATERAL VIEW posexplode(split(text, ' ')) v AS pos, tok"
)
_LM_TOKS_DUCK = (
    "SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos, "
    "unnest(string_split(text, ' ')) AS tok FROM documents"
)
_LM_FOLD_SPARK = (
    "aggregate(transform(array_sort(collect_list(struct(pos, lp))), s -> s.lp), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_LM_FOLD_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY pos)), "
    "(acc, v) -> acc + v)"
)


@register(
    "text_lm_score",
    oracle=_lm_sql(_LM_TOKS_DUCK, _LM_FOLD_DUCK),
    description="bigram-LM quality score (CCNet-style perplexity filter): "
    "add-one-smoothed bigram LM trained on the corpus, per-doc "
    "cross-entropy in nats via the deterministic integer-ln kernel "
    "(functions/dmath.py — ln() is not IEEE; both engines evaluate the "
    "same range-reduced atanh polynomial bit-for-bit); one window pass "
    "for bigrams, two model aggregates, one scoring equi-join",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_lm_sql(_LM_TOKS_SPARK, _LM_FOLD_SPARK))


# --- token-distribution entropy per source (corpus diagnostics) ---
# Shannon entropy of each source's token distribution, in nats:
#   H = −Σ (c/n)·ln(c/n) = ln(n) − (Σ c·ln(c))/n
# — every log argument is an INTEGER count, so the deterministic ln
# kernel makes it bit-identical across engines. The per-source Σ c·ln(c)
# folds in token order (engine-stable); n and the vocab size are exact
# integers. Low entropy = repetitive/boilerplate source, high = diverse —
# the standard corpus-mix diagnostic next to text_quality.
#
# Scale: one (source, tok) hash-aggregate (map-side combined), the ln
# stages are per DISTINCT (source, token) — vocabulary-sized, not
# corpus-sized. The ordered fold bounds per-source state by vocabulary;
# at open-web vocabulary sizes swap it for the decimal-routed sum
# (parity.dsum at reduced scale) documented in parity.py.


def _entropy_sql(tok_explode: str, fold: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    c_sql, c_last = dln_int_cte_layers([("c", "c")], "tc0", "tc")
    n_sql, n_last = dln_int_cte_layers([("n", "n")], "ns0", "ns")
    return f"""
WITH tc0 AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM ({tok_explode}) GROUP BY source, tok
),
{c_sql},
terms AS (
  SELECT source, tok, c, (CAST(c AS DOUBLE) * c_ln) AS clnc FROM {c_last}
),
persrc AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS vocab,
         {fold} AS sum_clnc
  FROM terms GROUP BY source
),
ns0 AS (SELECT source, n, vocab, sum_clnc FROM persrc),
{n_sql}
SELECT source, n AS n_tokens, vocab,
       (n_ln - (sum_clnc / CAST(n AS DOUBLE))) AS entropy_nats
FROM {n_last}
"""


_ENT_TOKS_SPARK = (
    "SELECT source, tok FROM (SELECT source, explode(split(text, ' ')) AS tok "
    "FROM documents)"
)
_ENT_TOKS_DUCK = (
    "SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents"
)
_ENT_FOLD_SPARK = (
    "aggregate(transform(array_sort(collect_list(struct(tok, clnc))), s -> s.clnc), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_ENT_FOLD_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(clnc ORDER BY tok)), "
    "(acc, v) -> acc + v)"
)


@register(
    "text_token_entropy",
    oracle=_entropy_sql(_ENT_TOKS_DUCK, _ENT_FOLD_DUCK),
    description="per-source Shannon entropy of the token distribution "
    "(nats): H = ln(n) − Σ c·ln(c)/n with every log over an integer "
    "count through the deterministic ln kernel — the boilerplate/"
    "diversity diagnostic for corpus mixing; one vocab-sized aggregate",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_entropy_sql(_ENT_TOKS_SPARK, _ENT_FOLD_SPARK))


# --- feature hashing (the hashing trick) ---
# Weinberger et al. (ICML'09): map tokens to a fixed D-dim space with
# index = h(tok) mod D and a second hash choosing the sign (the signed
# variant that makes collisions cancel in expectation — unbiased inner
# products). Vocabulary-free, so it needs NO fitted dictionary state:
# the property that makes it the featurizer of choice for streaming /
# sharded pipelines at corpus scale. md5-derived hashes → DuckDB
# replays every index and sign bit-for-bit.
#
# Scale: one (doc, index) hash-aggregate over the token stream, D
# bounded (64) — output is the sparse long format (doc_id, idx, w);
# sampled 1-in-10 docs to keep the parity result bounded.

FH_DIM = 64


def _fh_sql(tok_unnest: str, h_idx: str, h_sign: str) -> str:
    return f"""
SELECT doc_id, idx,
       CAST(sum(sgn) AS BIGINT) AS w
FROM (
  SELECT doc_id, {h_idx} % {FH_DIM} AS idx,
         CASE WHEN {h_sign} % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM ({tok_unnest}) t
  WHERE doc_id % 10 = 0
) f
GROUP BY doc_id, idx
HAVING CAST(sum(sgn) AS BIGINT) <> 0
"""


_FH_TOKS_SPARK = (
    "SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents"
)
_FH_TOKS_DUCK = "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents"


@register(
    "feature_hashing",
    oracle=_fh_sql(
        _FH_TOKS_DUCK,
        md5_int_duck("tok", salt="fh"),
        md5_int_duck("tok", salt="fh", slot=1),
    ),
    description=f"feature hashing (signed hashing trick, D={FH_DIM}): "
    "index and sign from two md5-derived hashes (one digest, two slots) "
    "— vocabulary-free featurization with zero fitted state, collisions "
    "cancel in expectation; one (doc, index) aggregate, sparse long-form "
    "output sampled 1-in-10",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _fh_sql(
            _FH_TOKS_SPARK,
            md5_int_spark("tok", salt="fh"),
            md5_int_spark("tok", salt="fh", slot=1),
        )
    )


# --- winnowing fingerprints (Schleimer, Wilkerson, Aiken — MOSS) ---
# text_fingerprint keeps ONE min-hash per doc (whole-doc signature);
# winnowing keeps the positional fingerprint SET: slide a window of
# WNW_W consecutive k-gram hashes and select each window's minimum
# (rightmost position on hash ties). Guarantee: any shared token run of
# length ≥ WNW_W + WNW_K − 1 contributes at least one common selected
# fingerprint, with density ~2/(WNW_W+1) — the local-dup / plagiarism /
# attribution primitive that min-sampling can't give.
# Determinism: selection key = zero-padded hash string ++ zero-padded
# (BIG − pos), so the per-window min is a single deterministic string
# min on both engines (rightmost-min tie rule encoded in the key).
# Scale shape: explode is O(n_kgrams · WNW_W) rows but purely map-side;
# the only shuffle is the (doc, window) min aggregate (map-side
# combinable) + the distinct — both keyed on doc_id.

WNW_K = 3  # tokens per k-gram
WNW_W = 4  # k-gram hashes per winnowing window
_WNW_POSPAD = 100_000_000  # > any k-gram count; encodes rightmost-min ties


def _winnow_duck() -> str:
    from posting_lines_spark.functions.hashing import md5_int_duck
    from posting_lines_spark.queries.dedup_q import shingle_sql_duck

    h = md5_int_duck("shingle", salt="wn")
    return f"""
WITH grams AS (
  SELECT doc_id, s.pos AS pos, s.sh AS shingle,
         greatest(len(string_split(text, ' ')) - {WNW_K - 1}, 0) AS n
  FROM (
    SELECT doc_id, text,
           unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - {WNW_K - 1}, 0) + 1),
                  i -> struct_pack(pos := i,
                                   sh := concat_ws(' ', string_split(text, ' ')[i],
                                                        string_split(text, ' ')[i + 1],
                                                        string_split(text, ' ')[i + 2]))))
             AS s
    FROM documents
  )
),
keyed AS (
  SELECT doc_id, pos, n,
         lpad(CAST({h} AS VARCHAR), 19, '0')
           || lpad(CAST({_WNW_POSPAD} - pos AS VARCHAR), 9, '0') AS key
  FROM grams
),
wins AS (
  SELECT doc_id, unnest(generate_series(pos, pos + {WNW_W - 1})) AS t, key, n
  FROM keyed
),
sel AS (
  SELECT doc_id, t, min(key) AS sel_key
  FROM wins WHERE t >= {WNW_W} AND t <= n
  GROUP BY doc_id, t
),
fp AS (SELECT DISTINCT doc_id, sel_key FROM sel)
SELECT doc_id,
       CAST({_WNW_POSPAD} - CAST(substring(sel_key, 20, 9) AS BIGINT) AS BIGINT) AS pos,
       CAST(substring(sel_key, 1, 19) AS BIGINT) AS fingerprint
FROM fp
"""


@register(
    "text_winnow_fingerprint",
    oracle=_winnow_duck(),
    description=f"winnowing positional fingerprints (MOSS): min of every "
    f"{WNW_W} consecutive {WNW_K}-gram hashes, rightmost-min tie rule "
    "encoded in a padded string key — guarantees a shared fingerprint for "
    f"any common run ≥ {WNW_W + WNW_K - 1} tokens at ~2/(w+1) density; "
    "map-side window explode, one (doc, window) min aggregate + distinct, "
    "both keyed on doc_id",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.functions.hashing import md5_int_spark
    from posting_lines_spark.operators.dedup import shingle_array_spark

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    h = md5_int_spark("shingle", salt="wn")
    grams = d.select(
        "doc_id",
        F.posexplode(F.expr(shingle_array_spark("text", k=WNW_K))).alias("pos0", "shingle"),
        F.greatest(
            F.size(F.split("text", " ")) - F.lit(WNW_K - 1), F.lit(0)
        ).alias("n"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "shingle",
        "n",
    )
    keyed = grams.select(
        "doc_id",
        "pos",
        "n",
        F.concat(
            F.lpad(F.expr(h).cast("string"), 19, "0"),
            F.lpad((F.lit(_WNW_POSPAD) - F.col("pos")).cast("string"), 9, "0"),
        ).alias("key"),
    )
    wins = keyed.select(
        "doc_id",
        F.explode(F.sequence("pos", F.col("pos") + F.lit(WNW_W - 1))).alias("t"),
        "key",
        "n",
    ).filter((F.col("t") >= WNW_W) & (F.col("t") <= F.col("n")))
    sel = wins.groupBy("doc_id", "t").agg(F.min("key").alias("sel_key"))
    fp = sel.select("doc_id", "sel_key").distinct()
    return fp.select(
        "doc_id",
        (F.lit(_WNW_POSPAD) - F.substring("sel_key", 20, 9).cast("long")).alias("pos"),
        F.substring("sel_key", 1, 19).cast("long").alias("fingerprint"),
    )


# --- BPE pair counting (one tokenizer-training round) ---
# The inner loop of byte-pair-encoding tokenizer training: count every
# adjacent character pair across the corpus, weighted by word frequency
# — the highest-count pair is the next merge rule. The corpus-scale
# formulation: aggregate words FIRST (distinct words ≪ running words,
# the standard BPE-training compression), then explode each distinct
# word's len−1 adjacent pairs once and weight by its frequency.
# Scale shape: one word hash-aggregate (map-side combinable), a
# map-side position explode bounded by word length, one pair aggregate,
# and a top-k under a deterministic total order (count DESC, pair ASC).

BPE_TOP = 50

BPE_ORACLE = f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
),
pairs AS (
  SELECT substring(word, i, 2) AS pair, freq
  FROM words, unnest(generate_series(1, length(word) - 1)) AS t(i)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT {BPE_TOP}
"""


@register(
    "text_bpe_pair_counts",
    oracle=BPE_ORACLE,
    description=f"BPE tokenizer-training round: adjacent character-pair "
    "counts weighted by word frequency, computed over DISTINCT words "
    "(the standard training compression — distinct words ≪ running "
    f"words); top {BPE_TOP} merge candidates under a deterministic "
    "(count DESC, pair ASC) order; two map-side-combinable aggregates",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).alias(
            "pair"
        ),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_TOP)
    )


# --- PMI collocations ---
# Pointwise mutual information over adjacent token pairs — the classic
# collocation extractor (Church & Hanks 1990): PMI(a,b) =
# ln(c_ab·T / (c_a·c_b)) with c_a/c_b the bigram MARGINS and T the
# total bigram count. All four ln arguments are exact integers, so the
# statistic routes through the deterministic integer-ln kernel
# (functions/dmath.py) and both engines produce bit-identical doubles;
# the final combination is written with fixed parenthesization.
# Scale: the same one-window bigram build as the LM family, three
# hash-aggregates (pair, left margin, right margin), two margin joins
# (broadcastable after a top-V cutoff at corpus scale), top-k under a
# (pmi DESC, w1, w2) total order.

PMI_MIN_COUNT = 3
PMI_TOP = 50


def _pmi_sql(toks: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers

    layers, last = dln_int_cte_layers(
        [("c12", "p12"), ("tt", "pt"), ("c1", "p1"), ("c2", "p2")], "pm0", "pm"
    )
    return f"""
WITH toks AS ({toks}),
big AS (
  SELECT w1, w2 FROM (
    SELECT tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
  ) t WHERE w2 IS NOT NULL
),
cnt12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
cntl AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
cntr AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM big),
pm0 AS (
  SELECT p.w1, p.w2, p.c12, l.c1, r.c2, tot.tt
  FROM cnt12 p
  JOIN cntl l ON l.w1 = p.w1
  JOIN cntr r ON r.w2 = p.w2
  CROSS JOIN tot
  WHERE p.c12 >= {PMI_MIN_COUNT}
),
{layers}
SELECT w1, w2, c12,
       (p12_ln + pt_ln) - (p1_ln + p2_ln) AS pmi
FROM {last}
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP}
"""


@register(
    "text_pmi_collocations",
    oracle=_pmi_sql(_LM_TOKS_DUCK),
    description=f"PMI collocations (Church–Hanks): ln(c_ab·T/(c_a·c_b)) "
    f"over adjacent token pairs with count ≥ {PMI_MIN_COUNT}, all four ln "
    "args exact integers through the deterministic integer-ln kernel — "
    f"bit-identical ranking on both engines; top {PMI_TOP} under a total "
    "order; one window pass + three map-side-combinable aggregates",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_pmi_sql(_LM_TOKS_SPARK))


# --- tokenizer vocabulary coverage / OOV rate ---
# The pre-tokenizer question every training pipeline answers before
# committing a vocab: with a top-K vocabulary, what fraction of each
# source's token stream falls out of vocabulary? High-OOV sources are
# the ones that blow up into byte-fallback tokens at training time.
# Tokens here are CHARACTER 3-GRAMS (the subword-ish unit — the
# synthetic corpus has only 31 distinct whitespace words, which would
# make word-level OOV vacuous; 3-grams give a 377-type stream that a
# 256-entry vocab genuinely cannot cover).
#
# Determinism: vocab membership is an exact top-K over (count DESC,
# gram) — a total order. Scale: the gram explode is map-side (one row
# per char position), one (gram) aggregate (map-side combined), top-K
# via TakeOrderedAndProject, then the vocab (K rows) BROADCASTS back
# onto the gram stream — OOV marking is map-side; one final per-source
# rollup.

OOV_VOCAB_K = 256


def _oov_sql(explode_grams: str) -> str:
    return f"""
WITH toks AS ({explode_grams}),
counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY tok
),
vocab AS (
  SELECT tok FROM counts ORDER BY n DESC, tok LIMIT {OOV_VOCAB_K}
),
marked AS (
  SELECT t.source, t.tok,
         CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate,
       CAST(count(DISTINCT CASE WHEN oov = 1 THEN tok END) AS BIGINT) AS n_oov_types
FROM marked
GROUP BY source
"""


_OOV_GRAMS_DUCK = """SELECT source, substr(text, CAST(i AS INT), 3) AS tok
FROM documents CROSS JOIN LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) t
WHERE length(text) >= 3"""

_OOV_GRAMS_SPARK = """SELECT source, substr(text, CAST(i AS INT), 3) AS tok
FROM documents LATERAL VIEW explode(sequence(1, length(text) - 2)) t AS i
WHERE length(text) >= 3"""


@register(
    "text_vocab_oov",
    oracle=_oov_sql(_OOV_GRAMS_DUCK),
    description=f"tokenizer vocabulary coverage: top-{OOV_VOCAB_K} char-"
    "3-gram vocab by occurrence count (exact total order), broadcast "
    "back onto the gram stream for map-side OOV marking, per-source OOV "
    "occurrence/type rates — the byte-fallback-rate readout a tokenizer "
    "commit decision needs; map-side explode + one gram aggregate + "
    "TakeOrderedAndProject + one source rollup",
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_oov_sql(_OOV_GRAMS_SPARK))


# --- Zipf rank-frequency fit over the char-3-gram stream ---
# The corpus-health diagnostic: natural text follows freq ∝ rank^(−s)
# with s ≈ 1; synthetic/templated corpora flatten or steepen the curve.
# OLS of ln(freq) on ln(rank) over the top ZIPF_TOP types — both ln
# args are EXACT INTEGERS through the deterministic kernel, every OLS
# sum is decimal-routed, and the slope/intercept/r² chain is one shared
# SQL text → bit-identical across engines. Types are char 3-grams (the
# 31-word synthetic vocabulary makes word ranks vacuous; grams give a
# 377-type distribution). Ranks use a window over the COUNTS table,
# whose size is TYPE-bounded (≤ alphabet³, ~50k for lowered ASCII at
# any corpus size), never data-shaped.

ZIPF_TOP = 200

_ZIPF_GRAMS_DUCK = """SELECT substr(text, CAST(i AS INT), 3) AS tok
FROM documents CROSS JOIN LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) t
WHERE length(text) >= 3"""

_ZIPF_GRAMS_SPARK = """SELECT substr(text, CAST(i AS INT), 3) AS tok
FROM documents LATERAL VIEW explode(sequence(1, length(text) - 2)) t AS i
WHERE length(text) >= 3"""


def _zipf_sql(explode_grams: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    layers, last = dln_int_cte_layers([("n", "zn"), ("r", "zr")], "top", "zl")
    return f"""
WITH toks AS ({explode_grams}),
counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
),
ranked AS (
  SELECT tok, n,
         CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS r
  FROM counts
),
top AS (SELECT * FROM ranked WHERE r <= {ZIPF_TOP}),
{layers},
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         {dsum_expr("zr_ln")} AS sx,
         {dsum_expr("zn_ln")} AS sy,
         {dsum_expr("zr_ln * zr_ln")} AS sxx,
         {dsum_expr("zr_ln * zn_ln")} AS sxy,
         {dsum_expr("zn_ln * zn_ln")} AS syy
  FROM {last}
),
fit AS (
  SELECT m, sx, sy, syy, sxx, sxy,
         (CAST(m AS DOUBLE) * sxy - sx * sy)
           / (CAST(m AS DOUBLE) * sxx - sx * sx) AS slope
  FROM sums
)
SELECT m AS n_points,
       slope,
       (sy - slope * sx) / CAST(m AS DOUBLE) AS intercept,
       ((CAST(m AS DOUBLE) * sxy - sx * sy) * (CAST(m AS DOUBLE) * sxy - sx * sy))
         / ((CAST(m AS DOUBLE) * sxx - sx * sx)
            * (CAST(m AS DOUBLE) * syy - sy * sy)) AS r2
FROM fit
"""


@register(
    "text_zipf_fit",
    oracle=_zipf_sql(_ZIPF_GRAMS_DUCK),
    description=f"Zipf rank-frequency OLS over the top-{ZIPF_TOP} char-"
    "3-gram types: ln(rank) and ln(freq) through the deterministic "
    "integer-ln kernel, decimal-routed OLS sums, shared-text slope/"
    "intercept/r² chain — bit-identical across engines; rank window is "
    "TYPE-bounded (≤ alphabet³), never data-shaped; the corpus-"
    "naturalness diagnostic",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_zipf_sql(_ZIPF_GRAMS_SPARK))


# --- RAKE keyword extraction ---
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs; each word scores
# deg(w)/freq(w) where deg sums the lengths of phrases containing it
# (co-occurrence degree, self included) and freq counts occurrences;
# a phrase scores the sum of its member words' scores. Identical
# phrase TEXT ⇒ identical score (word stats are corpus-level), so the
# report groups by phrase text with occurrence counts. Exact-integer
# deg/freq → one division per word; the per-phrase score sum is
# decimal-routed; top 15 under a total order.
#
# Scale: one doc-partitioned window (running stopword count — state
# bounded by doc length) assigns phrase ids; word stats and the phrase
# rollup are map-side-combinable aggregates; the word-score join keys
# on the token (vocabulary-bounded dimension → broadcast at scale).

RAKE_STOPS = "'the', 'a', 'of', 'and', 'to'"
RAKE_TOP = 15


def _rake_sql(toks: str, phrase_agg: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
WITH toks AS ({toks}),
marked AS (
  SELECT doc_id, pos, tok,
         CASE WHEN tok IN ({RAKE_STOPS}) THEN 1 ELSE 0 END AS stop
  FROM toks
),
numbered AS (
  SELECT doc_id, pos, tok, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS p
  FROM marked
),
members AS (
  SELECT doc_id, p, pos, tok FROM numbered WHERE stop = 0
),
plen AS (
  SELECT doc_id, p, CAST(count(*) AS BIGINT) AS len
  FROM members GROUP BY doc_id, p
),
wstat AS (
  SELECT m.tok,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(l.len) AS BIGINT) AS deg
  FROM members m JOIN plen l ON l.doc_id = m.doc_id AND l.p = m.p
  GROUP BY m.tok
),
phrases AS (
  SELECT m.doc_id, m.p,
         {phrase_agg} AS phrase,
         {dsum_expr("CAST(w.deg AS DOUBLE) / CAST(w.freq AS DOUBLE)")} AS score
  FROM members m JOIN wstat w ON w.tok = m.tok
  GROUP BY m.doc_id, m.p
)
SELECT phrase,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(score) AS score
FROM phrases
GROUP BY phrase
ORDER BY score DESC, phrase
LIMIT {RAKE_TOP}
"""


_RAKE_AGG_SPARK = (
    "concat_ws(' ', transform(array_sort(collect_list(struct(m.pos, m.tok))), "
    "s -> s.tok))"
)
_RAKE_AGG_DUCK = "string_agg(m.tok, ' ' ORDER BY m.pos)"


@register(
    "text_keyword_rake",
    oracle=_rake_sql(_LM_TOKS_DUCK, _RAKE_AGG_DUCK),
    description="RAKE keyword extraction: stopword-free maximal phrase "
    "runs via one doc-bounded running-count window, exact-integer "
    "deg/freq word scores, decimal-routed phrase score sums, corpus "
    f"rollup by phrase text, top {RAKE_TOP} under a total order; word-"
    "score join is vocabulary-bounded (broadcast at scale)",
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_rake_sql(_LM_TOKS_SPARK, _RAKE_AGG_SPARK))


# --- token burstiness (Church-Gale / Katz clumping) ---
# The corpus statistic that separates CONTENT words from FUNCTION
# words even at equal frequency: content words clump (variance of the
# per-doc count far above its mean — negative-binomial-ish), function
# words spread Poisson-like (variance ≈ mean). Per whitespace token
# over the top-BURST_TOP types: total count, document frequency, and
# the variance-to-mean ratio (VMR) of per-doc counts INCLUDING zero
# docs — Var = (Σc² − (Σc)²/D)/D over all D docs, computed from the
# nonzero groups' exact-integer Σc/Σc² (zeros contribute nothing to
# either), so the whole statistic is ratios of exact integers: one
# division each → bit-identical across engines.
# Scale: one (token, doc) aggregate, one token aggregate (both
# map-side-combinable), a 1-row doc-count broadcast; output
# vocabulary-bounded.

BURST_TOP = 20


def _burstiness_sql(toks: str) -> str:
    return f"""
WITH toks AS ({toks}),
per_doc AS (
  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY tok, doc_id
),
d AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
per_tok AS (
  SELECT tok,
         CAST(sum(c) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS doc_freq,
         CAST(sum(c * c) AS BIGINT) AS sum_c2
  FROM per_doc GROUP BY tok
)
SELECT tok, n_total, doc_freq,
       (CAST(sum_c2 AS DOUBLE)
        - CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) / CAST(d.n_docs AS DOUBLE))
       / CAST(n_total AS DOUBLE) AS vmr
FROM per_tok CROSS JOIN d
ORDER BY n_total DESC, tok
LIMIT {BURST_TOP}
"""


@register(
    "text_burstiness",
    oracle=_burstiness_sql(_LM_TOKS_DUCK),
    description=f"token burstiness (variance-to-mean ratio of per-doc "
    "counts, zero-docs included via the exact-integer Σc/Σc² identity): "
    "separates clumping content words from Poisson-spread function "
    f"words at equal frequency; top {BURST_TOP} by count; two map-side-"
    "combinable aggregates + a 1-row doc-count broadcast",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_burstiness_sql(_LM_TOKS_SPARK))


# --- readability scoring (Flesch reading ease, corpus QA) ---
# The curation signal next to text_quality that length ratios can't
# give: is the prose STRUCTURALLY simple or dense? Flesch reading
# ease = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
# with the standard cheap proxies — sentences = runs of [.!?]
# (floored at 1), syllables = vowel-group runs [aeiouy]+ in the
# lowered text (the classic heuristic; exact hyphenation is a
# dictionary problem, not an engine one). All three counts are exact
# integers from the same regex on both engines; the score is one
# shared-text double chain and the per-source mean is decimal-routed
# — bit-identical across engines.
#
# Scale: pure map-side expression math per document (no UDF, no
# shuffle before the tiny per-source aggregate) — the same shape as
# text_quality, safe at any corpus size.

READ_EASY_THRESHOLD = "60.0e0"


def _readability_sql(n_re: str, n_re_lower: str, words: str) -> str:
    from posting_lines_spark.queries.parity import davg_expr

    score = (
        "206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) "
        "- 84.6e0 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))"
    )
    return f"""
WITH feats AS (
  SELECT source,
         CAST({words} AS BIGINT) AS n_words,
         CAST(greatest({n_re}, 1) AS BIGINT) AS n_sents,
         CAST({n_re_lower} AS BIGINT) AS n_syll
  FROM documents
),
scored AS (
  SELECT source, n_words, n_sents, n_syll, {score} AS score
  FROM feats WHERE n_words > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       {davg_expr("CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)")} AS avg_words_per_sentence,
       {davg_expr("score")} AS avg_flesch,
       CAST(sum(CASE WHEN score >= {READ_EASY_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_easy
FROM scored
GROUP BY source
"""


@register(
    "text_readability",
    oracle=_readability_sql(
        "len(regexp_extract_all(text, '[.!?]+'))",
        "len(regexp_extract_all(lower(text), '[aeiouy]+'))",
        "len(string_split(text, ' '))",
    ),
    description="Flesch reading-ease per source: exact-integer word / "
    "sentence-run / vowel-group-run counts from the same regexes on "
    "both engines, score one shared-text double chain, per-source "
    "mean decimal-routed — bit-identical across engines; pure "
    "map-side expression math, no shuffle before the per-source "
    "aggregate; the structural-simplicity curation signal next to "
    "text_quality",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _readability_sql(
            "size(regexp_extract_all(text, '[.!?]+', 0))",
            "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))",
            "size(split(text, ' '))",
        )
    )


# --- multinomial naive Bayes language classifier (train + confusion) ---
# The generative sibling of curation_quality_logistic and the model-based
# upgrade of text_lang_id's n-gram heuristic: train multinomial NB with
# add-1 smoothing on (lang, token) counts, then classify every document
# and report the 5×5 confusion matrix — the self-consistency audit a
# labeling pipeline runs before trusting a cheap classifier at scale.
#   score_c(d) = ln(nd_c) − ln(N) + Σ_t cnt_dt·ln(cnt_tc + 1)
#                − n_d·ln(tot_c + V)
# Every ln argument is an EXACT INTEGER (counts, totals, vocab size), so
# all logs route through the deterministic integer-ln kernel
# (functions/dmath.py) and scores are engine-exact; the per-doc token
# sums are decimal-routed at scale 3; argmax ties break alphabetically
# via an ordered CASE cascade over exact-equal doubles. Output is
# integer counts — bit-identical across engines.
#
# Scale: training is two hash-aggregates ((doc,lang,token) then (token)
# pivoted over the FIXED 5-class set — never a per-class shuffle);
# scoring is one (token)-keyed join of doc-token counts against the
# vocabulary-bounded model table (broadcastable: |V| ≪ corpus) + one
# per-doc aggregate. Class constants are a 5-row table crossed back.

NB_LANGS = ("de", "en", "es", "fr", "zh")


def _nb_pred_ctes(tok_cte: str) -> str:
    """The NB pipeline as CTE fragments (no leading WITH) ending in
    `pred` (doc_id, true_lang, pred_lang) — shared by the confusion
    matrix query and the rater-agreement audit."""
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    ln1, last1 = dln_int_cte_layers(
        [(f"c_{g} + 1", f"l{g}") for g in NB_LANGS], "ct", "nbt"
    )
    ln2, last2 = dln_int_cte_layers(
        [("tot + v", "lt"), ("nd", "lp"), ("ntot", "ln")], "clsv", "nbc"
    )
    pivots = ",\n         ".join(
        f"max(CASE WHEN lang = '{g}' THEN lt_ln END) AS lt_{g},\n         "
        f"max(CASE WHEN lang = '{g}' THEN lp_ln - ln_ln END) AS pr_{g}"
        for g in NB_LANGS
    )
    csums = ",\n         ".join(
        f"CAST(sum(CASE WHEN lang = '{g}' THEN cnt ELSE 0 END) AS BIGINT) AS c_{g}"
        for g in NB_LANGS
    )
    ssums = ",\n         ".join(
        dsum_expr(f"CAST(d.cnt AS DOUBLE) * t.l{g}_ln", 3) + f" AS s_{g}"
        for g in NB_LANGS
    )
    scores = ",\n         ".join(
        f"cs.pr_{g} + ds.s_{g} - CAST(ds.n_tok AS DOUBLE) * cs.lt_{g} AS sc_{g}"
        for g in NB_LANGS
    )
    cascade = []
    for i, g in enumerate(NB_LANGS[:-1]):
        rest = ", ".join(f"sc_{h}" for h in NB_LANGS[i + 1 :])
        fn = "greatest(" + rest + ")" if "," in rest else rest
        cascade.append(f"WHEN sc_{g} >= {fn} THEN '{g}'")
    cascade_sql = "\n              ".join(cascade)
    return f"""
tok AS ({tok_cte}),
dt AS (
  SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY doc_id, lang, token
),
ct AS (
  SELECT token,
         {csums}
  FROM dt GROUP BY token
),
{ln1},
cls AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
  FROM dt GROUP BY lang
),
vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ct),
clsv AS (
  SELECT c.lang, c.tot, c.nd, vb.v,
         CAST(sum(c.nd) OVER () AS BIGINT) AS ntot
  FROM cls c CROSS JOIN vocab vb
),
{ln2},
consts AS (
  SELECT {pivots}
  FROM {last2}
),
docscore AS (
  SELECT d.doc_id, d.lang AS true_lang, CAST(sum(d.cnt) AS BIGINT) AS n_tok,
         {ssums}
  FROM dt d JOIN {last1} t ON t.token = d.token
  GROUP BY d.doc_id, d.lang
),
scored AS (
  SELECT ds.doc_id, ds.true_lang,
         {scores}
  FROM docscore ds CROSS JOIN consts cs
),
pred AS (
  SELECT doc_id, true_lang,
         CASE {cascade_sql}
              ELSE '{NB_LANGS[-1]}' END AS pred_lang
  FROM scored
)"""


def _nb_sql(tok_cte: str) -> str:
    return f"""
WITH {_nb_pred_ctes(tok_cte)}
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY true_lang, pred_lang
"""


@register(
    "text_naive_bayes_lang",
    oracle=_nb_sql(
        "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token"
        " FROM documents"
    ),
    description="multinomial naive Bayes language classifier with add-1 "
    "smoothing, trained and evaluated on the corpus (5×5 confusion "
    "matrix): every ln argument an exact integer through the "
    "deterministic integer-ln kernel, per-doc sums decimal-routed, "
    "alphabetical argmax tie-break — bit-identical across engines; "
    "training two hash-aggregates pivoted over the fixed class set, "
    "scoring one vocabulary-bounded (broadcastable) model join",
)
def text_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _nb_sql(
            "SELECT doc_id, lang, explode(split(text, ' ')) AS token"
            " FROM documents"
        )
    )


# --- TextRank keyword extraction (PageRank on the word graph) ---
# Mihalcea & Tarau 2004: build an undirected co-occurrence graph over
# adjacent tokens (window 1), run PageRank, read the top-ranked words as
# corpus keywords — the graph-centrality alternative to RAKE's
# degree/frequency heuristic (text_keyword_rake) that rewards words
# BRIDGING many contexts, not just frequent ones. Reuses the fixed-point
# integer PageRank operator (operators/graph.py::pagerank — engine-exact
# at any parallelism) on word nodes; undirectedness = both edge
# directions with the pair count as weight. The oracle unrolls the
# identical integer recurrence via graph_q.pagerank_oracle_sql.
#
# Scale: adjacency pairs come from a per-doc window (doc-length-bounded
# state, the PMI precedent); the word graph is VOCABULARY-bounded —
# each PageRank round is one join + one aggregate on a vocab-sized
# table, broadcastable at any corpus size. Top-K is TakeOrdered.

TEXTRANK_ITERS = 6
TEXTRANK_TOP_K = 20

_TEXTRANK_EDGES_DUCK = """WITH raw AS (
  SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
adj AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM raw
),
und AS (
  SELECT w1, w2 FROM adj WHERE w2 IS NOT NULL
  UNION ALL
  SELECT w2, w1 FROM adj WHERE w2 IS NOT NULL
)
SELECT w1 AS src, w2 AS dst, CAST(count(*) AS BIGINT) AS w
FROM und GROUP BY 1, 2"""

_TEXTRANK_EDGES_SPARK = """WITH raw AS (
  SELECT doc_id, pos, tok FROM documents
  LATERAL VIEW posexplode(split(text, ' ')) v AS pos, tok
),
adj AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM raw
),
und AS (
  SELECT w1, w2 FROM adj WHERE w2 IS NOT NULL
  UNION ALL
  SELECT w2, w1 FROM adj WHERE w2 IS NOT NULL
)
SELECT w1 AS src, w2 AS dst, CAST(count(*) AS BIGINT) AS w
FROM und GROUP BY 1, 2"""


def _textrank_oracle() -> str:
    from posting_lines_spark.queries.graph_q import pagerank_oracle_sql

    inner = pagerank_oracle_sql(
        f"({_TEXTRANK_EDGES_DUCK})", iters=TEXTRANK_ITERS
    )
    return f"""
SELECT node AS word, rank_fp FROM ({inner})
ORDER BY rank_fp DESC, word
LIMIT {TEXTRANK_TOP_K}"""


@register(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    description=f"TextRank corpus keywords: fixed-point integer PageRank "
    f"({TEXTRANK_ITERS} iterations, engine-exact) over the undirected "
    "adjacent-token co-occurrence graph, top-"
    f"{TEXTRANK_TOP_K} by (rank, word); vocabulary-bounded graph "
    "(broadcastable), doc-length-bounded adjacency window, TakeOrdered "
    "top-K; the centrality upgrade of RAKE",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.operators import graph

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    pr = graph.pagerank(spark.sql(_TEXTRANK_EDGES_SPARK), iters=TEXTRANK_ITERS)
    return (
        pr.select(
            F.col("node").alias("word"), F.col("rank").cast("long").alias("rank_fp")
        )
        .orderBy(F.desc("rank_fp"), "word")
        .limit(TEXTRANK_TOP_K)
    )


# --- classifier agreement audit (kappa between the two lang-ids) ---
# A labeling pipeline that runs a cheap heuristic (text_lang_id's
# marker argmax) next to a trained model (text_naive_bayes_lang) wants
# CHANCE-CORRECTED agreement between them before routing disagreements
# to review — raw overlap is inflated by the majority class. Cohen's κ
# over the two PREDICTIONS (not the gold label — this measures rater
# consistency, the stats_cohens_kappa machinery applied to model
# governance). All operands exact integers from the joined 5×5 table;
# marginal products in DECIMAL(38,0); one division.
#
# Scale: the NB side reuses the shared vocabulary-bounded pipeline
# (_nb_pred_ctes); the heuristic is a per-row CASE; the join is
# doc_id-keyed; the κ recombination is 25 cells.


def _langid_agreement_sql(tok_cte: str, score_of) -> str:
    d38 = "DECIMAL(38,0)"
    return f"""
WITH {_nb_pred_ctes(tok_cte)},
heur AS (SELECT doc_id, {_argmax(score_of)} AS h_lang FROM documents),
cells AS (
  SELECT p.pred_lang AS ra, h.h_lang AS rb, CAST(count(*) AS BIGINT) AS c
  FROM pred p JOIN heur h ON h.doc_id = p.doc_id
  GROUP BY 1, 2
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
    "text_langid_agreement",
    oracle=_langid_agreement_sql(
        "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token"
        " FROM documents",
        _score_duck,
    ),
    description="Cohen's κ between the marker-heuristic and naive-Bayes "
    "language predictions (rater agreement, not accuracy — the model-"
    "governance audit that routes disagreements to review): NB side "
    "reuses the shared vocabulary-bounded pipeline, heuristic is a "
    "per-row CASE, κ from exact integers over the joined 5×5 table",
)
def text_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        _langid_agreement_sql(
            "SELECT doc_id, lang, explode(split(text, ' ')) AS token"
            " FROM documents",
            _score_spark,
        )
    )


# --- BPE merge rounds (the actual tokenizer-training loop) ---
# text_bpe_pair_counts scores ONE round's merge candidates; this runs
# the LOOP: 3 unrolled rounds of (count adjacent symbol pairs over the
# distinct-word table → pick the argmax pair under the deterministic
# (count DESC, pair ASC) order → apply the merge corpus-wide), i.e.
# Sennrich et al.'s algorithm 1, re-expressed relationally.
#
# Symbol sequences wrap EVERY symbol in its own sentinels
# ('|h||e||l||l||o|'): a pair (x, y) is the substring '|x||y|' and its
# merge is one plain (non-regex) replace('|x||y|' → '|xy|'). Because
# each symbol carries its own delimiters, consuming a match never eats
# the delimiter the next match needs, so left-to-right non-overlapping
# replace() — identical semantics in Spark and DuckDB — IS greedy BPE:
# '|a||b||a||b|' → '|ab||ab|' (both merges land, unlike the earlier
# single-sentinel form '|a|b|a|b|' where the consumed shared '|' let
# only one apply — the round-7 ADVICE finding), and overlapping
# self-pairs still merge leftmost-first ('|a||a||a|' → '|aa||a|').
# '||' occurs exactly at symbol boundaries (symbols are non-empty and
# sentinel-free: words containing '|' are excluded up front, merged
# symbols are concatenations), so every pattern match IS an adjacent
# symbol pair and multi-char symbols stay unambiguous ('|ab||c|' can
# never match pair (b, c)). Pair counting flattens '||' → '|' first so
# the positional-explode adjacency join keeps its pos+1 form.
#
# Scale: each round is one positional explode over DISTINCT words
# (bounded by distinct-word character mass, not corpus tokens), one
# pair aggregate (map-side combinable), a 1-row argmax, and a map-side
# replace crossed with that 1-row merge table. ROUNDS is the unrolled
# budget knob, exactly like the PageRank/ESD iteration constants.

BPE_ROUNDS = 3


def _bpe_rounds_sql(chars_fn, posexplode_fn) -> str:
    parts = [
        f"""w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT {{tok}} AS word FROM documents) toks
  WHERE length(word) >= 2 AND word NOT LIKE '%|%'
  GROUP BY word
),
seq1 AS (SELECT word, freq, {chars_fn("word")} AS seq FROM w0)"""
    ]
    for k in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""flat{k} AS (
  SELECT word, freq, replace(seq, '||', '|') AS seq FROM seq{k}
),
syms{k} AS (
  SELECT word, freq, pos, sym FROM ({posexplode_fn(f"flat{k}")}) x WHERE sym <> ''
),
cnt{k} AS (
  SELECT a.sym || '|' || b.sym AS pair,
         CAST(sum(a.freq) AS BIGINT) AS n_occ
  FROM syms{k} a JOIN syms{k} b
    ON b.word = a.word AND b.pos = a.pos + 1
  GROUP BY 1
),
top{k} AS (SELECT pair, n_occ FROM cnt{k} ORDER BY n_occ DESC, pair ASC LIMIT 1),
seq{k + 1} AS (
  SELECT s.word, s.freq,
         replace(s.seq, '|' || replace(t.pair, '|', '||') || '|',
                 '|' || replace(t.pair, '|', '') || '|') AS seq
  FROM seq{k} s CROSS JOIN top{k} t
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS round, pair, n_occ FROM top{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(round AS INT) AS round, pair AS merged_pair, n_occ"
        f"\nFROM ({unions}) m"
    )


def _bpe_duck_sql() -> str:
    return _bpe_rounds_sql(
        lambda w: f"regexp_replace({w}, '(.)', '|\\1|', 'g')",
        lambda s: (
            "SELECT word, freq, CAST(t.i - 1 AS BIGINT) AS pos, l[t.i] AS sym "
            f"FROM (SELECT word, freq, string_split(seq, '|') AS l FROM {s}) ls, "
            "unnest(generate_series(1, len(l))) AS t(i)"
        ),
    ).replace("{tok}", "unnest(string_split(text, ' '))")


@register(
    "text_bpe_merge_rounds",
    oracle=_bpe_duck_sql(),
    description=f"BPE tokenizer training, {BPE_ROUNDS} unrolled merge "
    "rounds (Sennrich alg. 1): sentinel-delimited symbol strings make "
    "each merge ONE plain non-regex replace whose left-to-right non-"
    "overlapping semantics IS the greedy BPE convention; per round one "
    "distinct-word positional explode + pair aggregate + 1-row argmax "
    "(count DESC, pair ASC) + map-side merge apply",
)
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    w0 = spark.sql(
        """
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT explode(split(text, ' ')) AS word FROM documents) toks
WHERE length(word) >= 2 AND word NOT LIKE '%|%'
GROUP BY word
"""
    )
    return _bpe_train(spark, w0)


def _bpe_train(
    spark: SparkSession, w0: DataFrame, return_seq: bool = False
):
    """Run BPE_ROUNDS greedy merge rounds over a (word, freq) table.

    The loop a distributed engine actually runs: the sequence table is
    checkpointed between rounds (the unrolled-CTE form recomputes round
    k−1 inside every round k — the ESD recomputation lesson; measured
    62s → ~15s at sf0.01), and each round's argmax is ONE driver scalar
    (the pagerank-n / bloom-bitset metadata budget). The oracle stays
    the unrolled chain — an independent execution shape agreeing on the
    result."""
    from pyspark.sql import Window as W

    seq = cut(  # loop: the sequence state
        w0.select("word", "freq", F.regexp_replace("word", "(.)", "|$1|").alias("seq"))
    )
    merges = []
    for k in range(1, BPE_ROUNDS + 1):
        syms = (
            seq.select(
                "word",
                "freq",
                # '||' → '|' so positions are gap-free again; lead()
                # would tolerate gaps, but keeping the flattened form
                # mirrors the oracle's pos+1 adjacency join exactly
                F.posexplode(
                    F.split(F.replace("seq", F.lit("||"), F.lit("|")), "\\|")
                ).alias("pos", "sym"),
            )
            .filter(F.col("sym") != "")
            .withColumn(
                "nxt", F.lead("sym").over(W.partitionBy("word").orderBy("pos"))
            )
            .filter(F.col("nxt").isNotNull())
        )
        top = (
            syms.groupBy(
                F.concat(F.col("sym"), F.lit("|"), F.col("nxt")).alias("pair")
            )
            .agg(F.sum("freq").cast("long").alias("n_occ"))
            .orderBy(F.col("n_occ").desc(), F.col("pair").asc())
            .limit(1)
            .collect()[0]
        )
        merges.append((k, top["pair"], top["n_occ"]))
        seq = cut(  # loop: the sequence state
            seq.select(
                "word",
                "freq",
                # F.replace with literal args: pairs can contain quote
                # chars, so no SQL-string interpolation. Per-symbol
                # sentinels make this single non-overlapping replace
                # exactly greedy BPE (see the block comment above
                # _bpe_rounds_sql).
                F.replace(
                    F.col("seq"),
                    F.lit("|" + top["pair"].replace("|", "||") + "|"),
                    F.lit("|" + top["pair"].replace("|", "") + "|"),
                ).alias("seq"),
            )
        )
    out = spark.createDataFrame(merges, "round int, merged_pair string, n_occ long")
    return (out, seq) if return_seq else out


# --- Heaps' law fit (vocabulary growth) ---
# V(T) ≈ k·T^β: how fast the TYPE inventory grows as the corpus
# streams in — THE sizing law for tokenizer vocab budgets and dedup
# hash tables. Types here are word TRIGRAMS (the synthetic corpus has
# a fixed 31-word unigram vocabulary, which saturates by the first
# decile — a degenerate fit; trigram types keep growing for the whole
# corpus, measured 2.4k → 16k across the deciles at sf0.01). Corpus
# order = doc_id order; checkpoints are the 10 doc_id-value deciles
# (i·max_doc/10 — value-based prefixes, NOT rank-based, so no global
# row_number window ever runs over the doc table). At each checkpoint:
# T = Σ trigram tokens of docs ≤ cp (one inequality join against the
# 10-row broadcast checkpoint table), V = # trigram types whose FIRST
# occurrence doc ≤ cp (per-type min(doc_id) — one map-side-combinable
# aggregate — joined the same way). ln T and ln V go through the
# deterministic integer-ln kernel; the 10-point OLS uses the zipf_fit
# decimal-routed sums → slope β, intercept ln k, r² bit-identical.
#
# Scale: trigram build is a per-doc lead() window (doc-partitioned,
# never global) + two type/doc aggregates (map-side combine) + two
# 10-row broadcast inequality joins; the regression runs on ≤ 10 rows.

HEAPS_POINTS = 10

_HEAPS_TP_SPARK = (
    "SELECT doc_id, pos, tok FROM documents "
    "LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok"
)
_HEAPS_TP_DUCK = (
    "SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos, "
    "unnest(string_split(text, ' ')) AS tok FROM documents"
)


def _heaps_sql(tok_pos: str) -> str:
    from posting_lines_spark.functions.dmath import dln_int_cte_layers
    from posting_lines_spark.queries.parity import dsum_expr

    layers, last = dln_int_cte_layers([("t_n", "hx"), ("v_n", "hy")], "pts", "hl")
    cp_rows = ", ".join(f"({i})" for i in range(1, HEAPS_POINTS + 1))
    return f"""
WITH tp AS ({tok_pos}),
tg AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
  FROM tp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (SELECT doc_id, gram FROM tg WHERE gram IS NOT NULL),
dtok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM grams GROUP BY doc_id),
firsts AS (SELECT gram, CAST(min(doc_id) AS BIGINT) AS fdoc FROM grams GROUP BY gram),
mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS md FROM dtok),
cps AS (
  SELECT i, (i * mx.md) / {HEAPS_POINTS} AS cp_doc
  FROM (SELECT * FROM (VALUES {cp_rows}) AS t(i)) iv CROSS JOIN mx
),
tsum AS (
  SELECT c.i, CAST(sum(d.n_tok) AS BIGINT) AS t_n
  FROM cps c JOIN dtok d ON d.doc_id <= c.cp_doc
  GROUP BY c.i
),
vsum AS (
  SELECT c.i, CAST(count(*) AS BIGINT) AS v_n
  FROM cps c JOIN firsts f ON f.fdoc <= c.cp_doc
  GROUP BY c.i
),
pts AS (
  SELECT t.t_n, v.v_n
  FROM tsum t JOIN vsum v ON v.i = t.i
  WHERE t.t_n >= 1 AND v.v_n >= 1
),
{layers},
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         {dsum_expr("hx_ln")} AS sx,
         {dsum_expr("hy_ln")} AS sy,
         {dsum_expr("hx_ln * hx_ln")} AS sxx,
         {dsum_expr("hx_ln * hy_ln")} AS sxy,
         {dsum_expr("hy_ln * hy_ln")} AS syy
  FROM {last}
),
fit AS (
  SELECT m, sx, sy, syy, sxx, sxy,
         (CAST(m AS DOUBLE) * sxy - sx * sy)
           / nullif(CAST(m AS DOUBLE) * sxx - sx * sx, 0e0) AS beta
  FROM sums
)
SELECT m AS n_points,
       beta,
       (sy - beta * sx) / CAST(m AS DOUBLE) AS ln_k,
       ((CAST(m AS DOUBLE) * sxy - sx * sy) * (CAST(m AS DOUBLE) * sxy - sx * sy))
         / nullif((CAST(m AS DOUBLE) * sxx - sx * sx)
                  * (CAST(m AS DOUBLE) * syy - sy * sy), 0e0) AS r2
FROM fit
"""


@register(
    "text_heaps_law",
    oracle=_heaps_sql(_HEAPS_TP_DUCK),
    description=f"Heaps'-law type-inventory growth fit V ≈ k·T^β over "
    f"{HEAPS_POINTS} doc_id-value decile prefixes of word-TRIGRAM "
    "types (unigram vocab saturates on this corpus): per-type first-"
    "occurrence aggregate + per-doc counts, two 10-row broadcast "
    "inequality joins (no global row_number window), integer-ln kernel "
    "+ decimal-routed OLS — the tokenizer-vocab sizing diagnostic",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_heaps_sql(_HEAPS_TP_SPARK))


# --- BPE tokenizer APPLY (the inference half of the trainer) ---
# text_bpe_merge_rounds trains the merge table; this applies it
# corpus-wide and reports what a tokenizer buyer actually asks: token
# counts before/after and the compression ratio. Counting rides the
# wrapped representation: a word's token count is half its sentinel
# count ((len(seq) − len(strip '|')) / 2) — the /2 is float on both
# engines but exact per row (small even ints), and the per-row CAST
# back to BIGINT keeps the frequency-weighted TOTALS in exact integer
# summation at any corpus size (no 2^53 float-sum ceiling). The oracle re-runs the unrolled 3-round
# chain and counts the same way (independent execution shape: loop +
# checkpoints vs nested CTEs).
#
# Scale: the trainer's envelope (distinct-word-bounded rounds) plus
# one counting aggregate over the distinct-word table.


def _bpe_apply_counts_sql() -> str:
    # reuse the oracle chain's parts up to the final sequence table
    body = _bpe_duck_sql()
    # the trainer oracle ends with the merge-round UNION SELECT; strip
    # it and select counts from the last seq CTE instead
    cut = body.rindex("\nSELECT CAST(round AS INT)")
    with_chain = body[:cut]
    last_seq = f"seq{BPE_ROUNDS + 1}"
    return f"""{with_chain}
SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(freq * length(word)) AS BIGINT) AS tokens_char,
       CAST(sum(CAST(freq * (length(seq) - length(replace(seq, '|', ''))) / 2
                 AS BIGINT)) AS BIGINT) AS tokens_bpe,
       CAST(sum(freq * length(word)) AS DOUBLE)
         / CAST(sum(CAST(freq * (length(seq) - length(replace(seq, '|', ''))) / 2
                    AS BIGINT)) AS DOUBLE) AS compression_ratio
FROM {last_seq}
"""


@register(
    "text_bpe_tokenize_apply",
    oracle=_bpe_apply_counts_sql(),
    description=f"BPE tokenizer APPLY after the {BPE_ROUNDS} trained "
    "merge rounds: corpus token counts before (chars) and after "
    "(wrapped-sentinel count / 2 — exact integers), frequency-weighted, "
    "plus the compression ratio; the trainer's distinct-word-bounded "
    "envelope + one counting aggregate",
)
def text_bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    w0 = spark.sql(
        """
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT explode(split(text, ' ')) AS word FROM documents) toks
WHERE length(word) >= 2 AND word NOT LIKE '%|%'
GROUP BY word
"""
    )
    _, seq = _bpe_train(spark, w0, return_seq=True)
    seq.createOrReplaceTempView("pls_bpe_final_seq")
    return spark.sql(
        """
SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(freq * length(word)) AS BIGINT) AS tokens_char,
       CAST(sum(CAST(freq * (length(seq) - length(replace(seq, '|', ''))) / 2
                 AS BIGINT)) AS BIGINT) AS tokens_bpe,
       CAST(sum(freq * length(word)) AS DOUBLE)
         / CAST(sum(CAST(freq * (length(seq) - length(replace(seq, '|', ''))) / 2
                    AS BIGINT)) AS DOUBLE) AS compression_ratio
FROM pls_bpe_final_seq
"""
    )


# --- Jaro-Winkler record linkage: dirty probes vs the master table ---
# The record-linkage shape Winkler built the metric for: a "dirty"
# probe list (deterministically corrupted part names — two adjacent
# characters transposed at an md5-chosen position, same SQL on both
# engines) matched TOP-1 against the master part table within
# same-first-token blocks. The SCORE is the independently-verified
# part: the engine computes it with the pure-Python textbook kernel
# (functions/strdist.py) in an Arrow-batched Pandas UDF, the oracle
# with DuckDB's C++ jaro_winkler_similarity — two unrelated
# implementations that tests/test_text.py shows agree BIT-FOR-BIT
# (46k adversarial pairs, max |Δ| = 0.0), so the argmax ordering
# (jw DESC, key ASC) picks the identical winner on both engines. The
# self-audit rides along: matched_self = the probe's top-1 is its own
# uncorrupted source row.
#
# Scale (the r10 lever, VERDICT item 2 — measured, hit a wall,
# redesigned): raw candidates = |probes| × first-token-block size,
# both ∝ SF ⇒ intrinsically quadratic (measured 6.3×/decade; idle sf1
# p50 32.7 s pre-lever). The first attempt was the planned q-gram
# prefilter — share all but ≤3 of the probe's distinct bigrams,
# complete for one transposition — as an array_intersect predicate on
# the block join. It was CORRECT but did not scale: Catalyst's
# CollapseProject inlines the streamed side's gram-array build into
# the join condition, so the 25-element array + distinct + intersect
# re-evaluates PER CANDIDATE PAIR (~440M pairs at sf10 — the sf10 run
# had to be killed at 10+ min; the physical plan shows the streamed
# side as bare Filter+FileScan with no Project). The fix is
# structural, not a materialization barrier: the declared corruption
# is ONE ADJACENT TRANSPOSITION, and a transposition PERMUTES
# characters — it preserves the character multiset exactly, and it
# preserves token 1 by construction. So the blocking key
#   (first token, sorted characters of the remainder)
# is transposition-INVARIANT: the true source always shares it (zero
# recall loss — stronger than the q-gram slack bound), and it is an
# EQUI-JOIN key computed once per row in the hash-join key projection
# (CollapseProject can't multiply per-row work on an equi key).
# Candidates collapse from block-quadratic streaming to hash-join
# matches (essentially anagram classes). The second wall was DATA
# DUPLICATION: the synthetic corpus has only ~64 distinct part names
# over millions of rows, so even the invariant-key buckets hold tens
# of thousands of IDENTICAL-name rows and any per-ROW candidate join
# stays quadratic. Fix: score at the distinct-NAME-class level —
# master aggregates to (name, block) → min(match_id) once (one
# map-side-combinable shuffle), the kernel scores distinct
# (probe_name, match_name) pairs only, and the class argmax
# (jw DESC, min_id) is PROVABLY the row argmax (jw is a function of
# the names; every copy ties; the row tie-break picks the min id of
# the winning class). Winners then join back to probe ids. The whole
# query is scan-bound at any SF and any duplication profile. For
# broader real-world typo classes (insertions/deletions break the
# multiset) the generalization is q-gram BANDING as separate
# equi-join keys, not a per-pair predicate — same lesson, same shape.
# The per-pair kernel stays the declared slow path (Arrow-batched,
# never row-at-a-time BatchEvalPython).

JW_PROBE_MOD = 101


def _jw_probes_sql(md5i: str) -> str:
    """Deterministic transposition typo: swap chars at pos, pos+1 with
    pos md5-chosen AFTER the first token (so the probe stays in its
    source's first-token block — a typo that breaks the blocking key
    is the classic record-linkage blind spot, out of scope here) and
    never the last character."""
    t1 = "length(split_part(p_name, ' ', 1))"
    pos = f"({t1} + 2 + ({md5i}) % (length(p_name) - {t1} - 3))"
    return f"""
SELECT p_partkey AS probe_id,
       concat(substring(p_name, 1, {pos} - 1),
              substring(p_name, {pos} + 1, 1),
              substring(p_name, {pos}, 1),
              substring(p_name, {pos} + 2)) AS probe_name
FROM part WHERE p_partkey % {JW_PROBE_MOD} = 0
"""


def _jw_linkage_sql(
    probes: str, jw: str, sortsig: str, hint: str = ""
) -> str:
    """Shared linkage text, two scale layers (r10):

    1. BLOCKING: key = (first token, sorted chars of the remainder) —
       invariant under the declared one-transposition corruption, so
       candidate generation is a pure equi-join (the key is computed
       once per row; nothing re-evaluates per pair).
    2. NAME-CLASS DEDUP: the kernel scores DISTINCT (probe_name,
       match_name) pairs, never rows. Master aggregates to one row
       per (name, block) carrying min(match_id); since jw is a
       function of the names alone, every copy of a name ties, and
       the (jw DESC, match_id ASC) argmax over rows equals the
       (jw DESC, min_id ASC) argmax over classes — proven equal, and
       immune to duplicated corpora (the synthetic part table has
       only ~64 distinct names over millions of rows; a per-row
       candidate join degenerates to |probes|·|bucket| identical-name
       pairs there, which is what killed the per-pair q-gram draft at
       sf10).

    `sortsig` is the engine spelling of sort-characters-of-{s}."""
    return f"""
WITH probes0 AS ({probes}),
pnames AS (
  SELECT probe_name, b1, {sortsig.format(s="rest")} AS sig
  FROM (
    SELECT DISTINCT probe_name,
           split_part(probe_name, ' ', 1) AS b1,
           substring(probe_name,
                     length(split_part(probe_name, ' ', 1)) + 2) AS rest
    FROM probes0
  ) x
),
mclass AS (
  SELECT match_name, b1, {sortsig.format(s="rest")} AS sig,
         min(match_id) AS min_id
  FROM (
    SELECT p_partkey AS match_id, p_name AS match_name,
           split_part(p_name, ' ', 1) AS b1,
           substring(p_name, length(split_part(p_name, ' ', 1)) + 2) AS rest
    FROM part
  ) x
  GROUP BY match_name, b1, sig
),
cand AS (
  SELECT {hint}p.probe_name, m.match_name, m.min_id
  FROM pnames p
  JOIN mclass m ON m.b1 = p.b1 AND m.sig = p.sig
),
scored AS (
  SELECT probe_name, match_name, min_id, {jw} AS jw FROM cand
),
ranked AS (
  SELECT probe_name, min_id, jw,
         row_number() OVER (PARTITION BY probe_name
                            ORDER BY jw DESC, min_id) AS rn
  FROM scored
),
resolved AS (
  SELECT probe_name, min_id AS match_id, jw FROM ranked WHERE rn = 1
)
SELECT p0.probe_id, r.match_id, r.jw,
       CASE WHEN r.match_id = p0.probe_id THEN 1 ELSE 0 END AS matched_self
FROM probes0 p0 JOIN resolved r ON r.probe_name = p0.probe_name
"""


# engine spellings of "characters of {s}, sorted, re-joined" (ASCII
# corpus ⇒ identical binary char ordering on both engines)
_JW_SORTSIG_DUCK = (
    "array_to_string(list_sort(list_transform("
    "range(1, length({s}) + 1), i -> substring({s}, i, 1))), '')"
)
_JW_SORTSIG_SPARK = (
    "CASE WHEN length({s}) >= 1 THEN array_join(array_sort(transform("
    "sequence(1, length({s})), i -> substring({s}, i, 1))), '') "
    "ELSE '' END"
)

_JW_ORACLE = _jw_linkage_sql(
    _jw_probes_sql(md5_int_duck("p_partkey", salt="jwp")),
    "jaro_winkler_similarity(probe_name, match_name)",
    _JW_SORTSIG_DUCK,
)


@register(
    "text_jaro_winkler_join",
    oracle=_JW_ORACLE,
    description=f"Jaro-Winkler record linkage: 1/{JW_PROBE_MOD} of part "
    "names get a deterministic md5-positioned transposition typo, then "
    "top-1 match against the master table blocked on the "
    "transposition-INVARIANT key (first token, sorted chars of the "
    "rest) — a pure equi-join with zero recall loss for the declared "
    "corruption (a transposition permutes characters), the r10 "
    "redesign after the per-pair q-gram predicate hit Catalyst's "
    "CollapseProject wall at sf10 — "
    "engine scores with the pure-Python textbook kernel in an Arrow-"
    "batched Pandas UDF, oracle with DuckDB's independent C++ builtin "
    "(bit-identical by test, so the argmax picks the same winner); "
    "matched_self audits recovery of the uncorrupted source",
)
def text_jaro_winkler_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from posting_lines_spark.functions.strdist import jaro_winkler

    def _jw_batch(a, b):
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    # real annotation objects (module has `from __future__ import
    # annotations`, so inline hints would be strings the UDF type
    # inferencer cannot resolve)
    _jw_batch.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    spark.udf.register("pls_jw", pandas_udf(_jw_batch, "double"))

    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    # BROADCAST(p): probes are 1/101 of parts — the invariant-key block
    # join streams the master side with zero shuffle; the Python kernel
    # + top-1 window see only equi-key matches (≈ anagram classes)
    return spark.sql(
        _jw_linkage_sql(
            _jw_probes_sql(md5_int_spark("p_partkey", salt="jwp")),
            "pls_jw(probe_name, match_name)",
            _JW_SORTSIG_SPARK,
            hint="/*+ BROADCAST(p) */ ",
        )
    )


# --- Good-Turing frequency smoothing (wave 20) ---
# The count-of-counts table and Simple Good-Turing's exact core: for
# token-TRIGRAM types seen r times, N_r = |{types: count = r}| and the
# Turing estimate r* = (r+1)·N_{r+1}/N_r reassigns mass downward so
# unseen events get p₀ = N₁/T — the classical LM smoothing step
# (Good 1953) a corpus pipeline runs before estimating n-gram models,
# and a direct vocabulary-health readout (a heavy singleton mass means
# the corpus is far from lexical saturation — the Heaps-law view,
# text_heaps_law, in probability form). Trigrams, not unigrams: the
# synthetic corpus has a closed ~31-word vocabulary whose every
# unigram saturates (min count 29 even at sf0.001), while the trigram
# type space keeps real singletons at every SF — and trigram models
# are where GT smoothing is actually applied. Low ranks only
# (r ≤ {GT_MAX_R}; beyond that N_{r+1} sparsity makes raw r* noisy
# and SGT switches to a fitted law — out of replay scope, documented).
#
# Exactness: counts are integers end-to-end; (r+1)·N_{r+1} rides wide
# integers (r and N_r are both ≤ T, so the product wraps int64 past
# T ≈ 3e9 tokens — DECIMAL(38,0)/HUGEINT, STRING→DOUBLE emit); the
# two divisions are single double ops on exactly-represented values.
#
# Scale: one token aggregate (map-side combine), one |{r}|-bounded
# count-of-counts aggregate (≤ max count distinct values), a self-join
# on r+1 over that bounded table, a scalar total.

GT_MAX_R = 15


def _good_turing_sql(toks_src: str, w19: str) -> str:
    return f"""
WITH toks AS ({toks_src}),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM toks GROUP BY tok),
coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS v_types
  FROM toks
),
n1 AS (SELECT CAST(coalesce(max(n_r), 0) AS BIGINT) AS n_1 FROM coc WHERE r = 1)
SELECT a.r, a.n_r,
       CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r_next,
       CASE WHEN b.n_r IS NOT NULL
            THEN CAST(CAST(CAST(a.r + 1 AS {w19}) * b.n_r AS STRING)
                      AS DOUBLE) / CAST(a.n_r AS DOUBLE)
       END AS r_star,
       t.t_tokens, t.v_types,
       CAST(n1.n_1 AS DOUBLE) / CAST(t.t_tokens AS DOUBLE) AS p0_mass
FROM coc a
LEFT JOIN coc b ON b.r = a.r + 1
CROSS JOIN tot t CROSS JOIN n1
WHERE a.r <= {GT_MAX_R}
"""


def _gt_toks_spark() -> str:
    from posting_lines_spark.operators.dedup import shingle_array_spark

    return (
        f"SELECT explode({shingle_array_spark('text', k=3)}) AS tok "
        "FROM documents"
    )


def _gt_toks_duck() -> str:
    from posting_lines_spark.queries.dedup_q import shingle_sql_duck

    return (
        f"SELECT unnest({shingle_sql_duck('text', k=3)}) AS tok "
        "FROM documents"
    )


@register(
    "text_good_turing",
    oracle=_good_turing_sql(_gt_toks_duck(), "HUGEINT"),
    description=f"Good-Turing count-of-counts smoothing over token-"
    f"trigram types (r ≤ {GT_MAX_R}): N_r table, Turing estimate "
    "r* = (r+1)·N_{r+1}/N_r on wide-integer products, unseen mass "
    "p₀ = N₁/T — the classical LM smoothing core and a vocabulary-"
    "saturation readout beside text_heaps_law; one token aggregate + "
    "a count-bounded self-join",
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_good_turing_sql(_gt_toks_spark(), "DECIMAL(38,0)"))


# --- standardized type-token ratio (wave 22) ---
# Raw TTR (distinct/total tokens) falls mechanically with document
# length, so corpora are compared on the STANDARDIZED TTR: cut each
# doc's token stream into fixed 50-token segments, take TTR per FULL
# segment (partial tails dropped — the convention that makes scores
# length-comparable), average per document, aggregate per source —
# the lexical-diversity quality signal (template/boilerplate text
# scores low at any length, where raw TTR would hide it behind
# length effects). TTR per segment is an exact rational d/50; the
# cross-doc mean is decimal-routed.
#
# Scale: one positional token explode, a (doc, segment) aggregate
# with map-side combine, a doc then source rollup — all linear scan
# work; segment ids come from integer division of the token position,
# never a window.

STTR_SEG = 50


def _sttr_sql(toks_src: str) -> str:
    from posting_lines_spark.queries.parity import dsum_expr

    return f"""
WITH toks AS ({toks_src}),
segs AS (
  SELECT doc_id, source,
         CAST(floor(CAST(pos AS DOUBLE) / {float(STTR_SEG)!r}e0) AS BIGINT)
           AS seg,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_types
  FROM toks
  GROUP BY doc_id, source,
           CAST(floor(CAST(pos AS DOUBLE) / {float(STTR_SEG)!r}e0) AS BIGINT)
),
per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_segs,
         {dsum_expr(f"CAST(n_types AS DOUBLE) / {float(STTR_SEG)!r}e0", 6)}
           / count(*) AS sttr
  FROM segs WHERE n_tok = {STTR_SEG}
  GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_segs) AS BIGINT) AS n_segments,
       {dsum_expr("sttr", 12)} / count(*) AS mean_sttr,
       min(sttr) AS min_sttr,
       max(sttr) AS max_sttr
FROM per_doc
GROUP BY source
"""


_STTR_TOKS_SPARK = (
    "SELECT doc_id, source, pos, tok FROM documents "
    "LATERAL VIEW posexplode(split(text, ' ')) v AS pos, tok"
)
_STTR_TOKS_DUCK = (
    "SELECT doc_id, source, "
    "unnest(range(len(string_split(text, ' ')))) AS pos, "
    "unnest(string_split(text, ' ')) AS tok FROM documents"
)


@register(
    "text_sttr",
    oracle=_sttr_sql(_STTR_TOKS_DUCK),
    description=f"standardized type-token ratio ({STTR_SEG}-token "
    "segments, partial tails dropped): per-segment TTR as exact "
    "rationals, per-doc then per-source decimal-routed means — the "
    "length-comparable lexical-diversity signal raw TTR isn't "
    "(boilerplate scores low at ANY doc length); one positional "
    "explode + integer-division segment ids, never a window",
)
def text_sttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_sttr_sql(_STTR_TOKS_SPARK))


# --- per-source tokenizer fertility (wave 31) ---
# text_bpe_tokenize_apply reports CORPUS-level compression; tokenizer
# commit decisions are made per STRATUM: fertility (BPE tokens per
# whitespace word) by source is how under-served slices show up —
# the source whose fertility is 2× the corpus mean is the one the
# vocab shortchanges. The merge table is trained GLOBALLY (same
# tokenizer everywhere — the honest setup), then each source's word
# frequencies weight the per-word token counts; tokens per word =
# (length(seq) − length(replace(seq,'|','')))/2, the wrapped-sentinel
# count established by the apply query — exact integers throughout,
# one guarded division per source.
#
# Scale: trainer is distinct-word-bounded; the per-source rollup is a
# (source, word) aggregate joined to the word-bounded seq table.


def _fertility_duck_sql() -> str:
    body = _bpe_duck_sql()
    cut = body.rindex("\nSELECT CAST(round AS INT)")
    with_chain = body[:cut]
    last_seq = f"seq{BPE_ROUNDS + 1}"
    return f"""{with_chain},
src_freq AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE length(word) >= 2 AND word NOT LIKE '%|%'
  GROUP BY source, word
)
SELECT sf.source,
       CAST(sum(sf.freq) AS BIGINT) AS n_words,
       CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                AS BIGINT)) AS BIGINT) AS n_tokens,
       CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                AS BIGINT)) AS DOUBLE)
         / nullif(CAST(sum(sf.freq) AS DOUBLE), 0e0) AS fertility,
       CAST(sum(sf.freq * length(sf.word)) AS DOUBLE)
         / nullif(CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                           AS BIGINT)) AS DOUBLE), 0e0) AS chars_per_token
FROM src_freq sf JOIN {last_seq} s ON s.word = sf.word
GROUP BY sf.source
"""


@register(
    "text_tokenizer_fertility",
    oracle=_fertility_duck_sql(),
    description=f"per-source tokenizer fertility after the "
    f"{BPE_ROUNDS} globally-trained BPE merge rounds: BPE tokens per "
    "whitespace word and chars-per-token by source — the per-stratum "
    "readout that exposes which slice the vocabulary shortchanges "
    "(corpus-level compression can hide a 2× outlier); exact "
    "sentinel-count integers, guarded divisions; trainer "
    "distinct-word-bounded, rollup one (source, word) aggregate "
    "joined to the word-bounded seq table",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    w0 = spark.sql(
        """
SELECT word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT explode(split(text, ' ')) AS word FROM documents) toks
WHERE length(word) >= 2 AND word NOT LIKE '%|%'
GROUP BY word
"""
    )
    _, seq = _bpe_train(spark, w0, return_seq=True)
    seq.createOrReplaceTempView("pls_fert_seq")
    return spark.sql(
        """
WITH src_freq AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT source, explode(split(text, ' ')) AS word FROM documents) t
  WHERE length(word) >= 2 AND word NOT LIKE '%|%'
  GROUP BY source, word
)
SELECT sf.source,
       CAST(sum(sf.freq) AS BIGINT) AS n_words,
       CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                AS BIGINT)) AS BIGINT) AS n_tokens,
       CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                AS BIGINT)) AS DOUBLE)
         / nullif(CAST(sum(sf.freq) AS DOUBLE), 0e0) AS fertility,
       CAST(sum(sf.freq * length(sf.word)) AS DOUBLE)
         / nullif(CAST(sum(sf.freq * CAST((length(s.seq) - length(replace(s.seq, '|', ''))) / 2
                           AS BIGINT)) AS DOUBLE), 0e0) AS chars_per_token
FROM src_freq sf JOIN pls_fert_seq s ON s.word = sf.word
GROUP BY sf.source
"""
    )
