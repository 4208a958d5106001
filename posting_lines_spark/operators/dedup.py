"""Deduplication operators for large-scale document pipelines.

Beyond the reference's surface (its `isUnique` flag is computed upstream,
sql_to_line.py:197): exact dedup, MinHash+LSH near-dup, SimHash near-dup,
and n-gram Jaccard — the standard toolkit for training-data curation.

Scale design (100 TB):
  - exact_dedup: hash-aggregate on a content digest — one shuffle on the
    digest (uniform keys, no skew), map-side combine.
  - MinHash: one explode (doc → shingles) + one hash-aggregate computing
    all H mins in a single pass; signatures are H·8 bytes per doc. LSH
    banding turns all-pairs O(n²) into a shuffle on band keys; hot buckets
    (boilerplate docs) are the skew risk — cap bucket width or salt.
  - SimHash: explode tokens, one aggregate per doc; near-pair search is a
    band-equality join (pigeonhole: hamming ≤ d needs ≥1 equal band among
    d+1 bands) then exact hamming filter — equivalent output to brute
    force, linear-ish cost. The per-bit vote sums are PACKED: 3 offset-
    biased 20-bit lanes per int64 aggregate (16 buffers for 48 bits
    instead of 48), overflow-guarded with assert_true at 2^20−1 distinct
    tokens per doc; output equivalence vs the unpacked formulation is
    pinned by tests (simhash docstring below).
  - Jaccard verification joins candidate pairs back to shingle sets —
    only candidates pay the exact-set cost.

All hashes are md5-derived (functions/hashing.py) so a DuckDB oracle can
replay every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posting_lines_spark.functions.hashing import cw_mix_sql, md5_int_spark, md5_limb_spark
from posting_lines_spark.operators.cuts import cut

# --- shingling (Spark side; the DuckDB twin lives in queries/dedup_q.py) ---

def shingle_array_spark(text_col: str, k: int = 3) -> str:
    """SQL expr: array of word k-shingles of `text_col` (space-tokenized).

    Docs with fewer than k tokens yield an EMPTY array (matching the
    DuckDB twin's range(1,1)); the size guard is required because Spark's
    sequence(1, 0) is the descending [1, 0], whose element_at then indexes
    past the token array and raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT.

    The outer single-element transform is a let-binding: higher-order
    functions evaluate interpreted (no codegen CSE), so naming the token
    array once via a lambda variable evaluates split() ONCE per document
    instead of once per element_at/size reference — 3·shingles + 2 splits
    per doc collapse to 1 (measured ~10× on the shingle stages, round 15)."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(k))
    return (
        f"element_at(transform(array(split({text_col}, ' ')), toks -> "
        f"CASE WHEN size(toks) >= {k} THEN "
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS array<string>) END), 1)"
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True) -> DataFrame:
    """(id, shingle) pairs. `distinct=True` gives set semantics (needed for
    Jaccard counts — a shuffle); pass False for consumers that are
    duplicate-insensitive (MIN aggregates: MinHash signatures,
    fingerprints) and skip the shuffle entirely."""
    out = df.select(id_col, F.explode(F.expr(shingle_array_spark(text_col, k))).alias("shingle"))
    return out.distinct() if distinct else out


def stop_shingle_cap(sh: DataFrame, id_col: str, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds `max_df` (expects
    set-semantics (id, shingle) pairs). This is the scale guard for
    inverted-index self-joins: a shingle appearing in d documents fans out
    to d² candidate rows, so one boilerplate shingle (page headers, legal
    footers) turns the join quadratic. Capping df bounds per-shingle
    fanout at max_df² while leaving discriminative shingles — and
    therefore real near-dup pairs, which share many low-df shingles —
    intact. One extra aggregate + one equi-join, both on the shingle key."""
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("shingle")
    )
    return sh.join(keep, "shingle").select(id_col, "shingle")


def prefix_filter_candidates(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """EXACT set-similarity candidate generation via prefix filtering
    (Bayardo et al., WWW'07 / PPJoin family): rank each doc's shingles by
    a global (document-frequency, shingle) order — rarest first — and
    join only the first  n − ceil(t·n) + 1  shingles of each doc.

    Guarantee (so verification over these candidates is EXACT, unlike the
    lossy `stop_shingle_cap` route): J(a,b) ≥ t implies the overlap o
    satisfies o ≥ t·max(na,nb), and any two sets with overlap o must
    share an element within their first (n − o + 1) positions of a
    common total order — so the prefixes intersect and the pair is
    generated. Fanout is bounded because prefixes hold each doc's RAREST
    shingles: a shingle's join width is at most its df, and high-df
    (boilerplate) shingles sort to the suffix and never enter the join.

    Shuffles: df aggregate on shingle, one window pass on id (rank +
    size share the same partitioning), prefix self-join on shingle."""
    from pyspark.sql import Window as W

    gdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__gdf"))
    wdw = W.partitionBy(id_col)
    ranked = (
        sh.join(gdf, "shingle")
        .withColumn("__rk", F.row_number().over(wdw.orderBy("__gdf", "shingle")))
        .withColumn("__n", F.count(F.lit(1)).over(wdw))
    )
    prefix = ranked.filter(
        F.col("__rk") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    )
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --- exact dedup ---

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup via content-digest group: keeps the min-id row per
    distinct content, reports the multiplicity. One shuffle on the digest."""
    digest = F.md5(F.concat_ws("\x1f", *content_cols))
    return (
        df.groupBy(digest.alias("content_digest"))
        .agg(F.min(id_col).alias(f"{id_col}_kept"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- MinHash + LSH ---

def minhash_signature(
    sh: DataFrame, id_col: str, num_hashes: int = 12
) -> DataFrame:
    """H min-hashes per doc in ONE aggregation pass over (id, shingle).

    Hash cost is ONE md5 digest per shingle regardless of H: the digest
    splits into four 32-bit limbs and each of the H values is a
    Carter-Wegman integer mix of the limbs (functions/hashing.py
    cw_mix_sql) — string hashing is the expensive part of the signature
    stage (measured 6× fewer digests at H=12 vs a salt-per-hash-pair
    family), the mixes are register arithmetic inside the same codegen
    stage. DuckDB replays digest, limbs, and mix exactly."""
    d = sh.withColumn("__d", F.expr("md5(concat('mh|', shingle))")).withColumns(
        {f"__l{i}": F.expr(md5_limb_spark("__d", i)) for i in range(4)}
    )
    limbs = [f"__l{i}" for i in range(4)]
    aggs = [
        F.min(F.expr(cw_mix_sql(limbs, j))).alias(f"mh{j}") for j in range(num_hashes)
    ]
    return d.groupBy(id_col).agg(*aggs)


def _blocked_self_pairs(hot: DataFrame, id_col: str, chunk: int) -> DataFrame:
    """Output-equivalent salted self-join for hot band buckets: members
    are split into chunks of `chunk`; side A replicates each member to
    its own and every LATER chunk, side B keys members by their own chunk,
    so every unordered pair meets on exactly one (bucket, chunk) key.
    Per-key join width drops from w² to w·chunk — the skew fix — while
    the produced pair set is identical to the plain self-join."""
    from pyspark.sql import Window as W

    wdw = W.partitionBy("band_idx", "band_key").orderBy(id_col)
    h = (
        hot.withColumn("__chunk", ((F.row_number().over(wdw) - 1) / chunk).cast("int"))
        .withColumn("__m", F.ceil(F.col("__w") / chunk).cast("int"))
    )
    a = h.select(
        F.col(id_col).alias("__id_x"),
        "band_idx",
        "band_key",
        F.explode(F.expr("sequence(__chunk, __m - 1)")).alias("__t"),
    )
    b = h.select(
        F.col(id_col).alias("__id_y"), "band_idx", "band_key", F.col("__chunk").alias("__t")
    )
    return (
        a.join(b, ["band_idx", "band_key", "__t"])
        .filter(F.col("__id_x") != F.col("__id_y"))
        .select(
            F.least("__id_x", "__id_y").alias("id_a"),
            F.greatest("__id_x", "__id_y").alias("id_b"),
        )
    )


def band_signatures(
    sig: DataFrame, id_col: str, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(id, band_idx, band_key) rows from a MinHash signature frame — the
    LSH index layout: equal band_key within a band ⇒ candidate pair. This
    is the frame a production pipeline PERSISTS between increments (see
    `incremental_candidate_pairs`)."""
    rows = num_hashes // bands
    # one selectExpr string instead of ~5·bands Column-API calls: every
    # Column operation is a py4j round-trip (~1-3 ms each), and this
    # builder runs inside every LSH query's per-run construction path
    # (round-15 driver-time finding; identical expression tree)
    structs = ", ".join(
        "struct({b} AS band_idx, concat_ws(',', {cols}) AS band_key)".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return sig.selectExpr(id_col, f"explode(array({structs})) AS band").selectExpr(
        id_col, "band.band_idx", "band.band_key"
    )


def incremental_candidate_pairs(
    banded_new: DataFrame, banded_index: DataFrame, id_col: str
) -> DataFrame:
    """Candidate pairs for an INCREMENTAL dedup batch: new docs against
    the persisted band index plus the batch itself — never index×index.
    Per-increment join cost is ∝ batch size (the index side is touched
    only on matching band keys), which is what makes continuous corpus
    dedup affordable: the corpus is re-paired zero times after ingest.
    Output is (id_a < id_b) distinct pairs where ≥ 1 side is new."""
    probe = banded_new.select(F.col(id_col).alias("__id_x"), "band_idx", "band_key")
    build = (
        banded_index.unionByName(banded_new)
        .select(F.col(id_col).alias("__id_y"), "band_idx", "band_key")
    )
    return (
        probe.join(build, ["band_idx", "band_key"])
        .filter(F.col("__id_x") != F.col("__id_y"))
        .select(
            F.least("__id_x", "__id_y").alias("id_a"),
            F.greatest("__id_x", "__id_y").alias("id_b"),
        )
        .distinct()
    )


def incremental_pairs(
    sh_new: DataFrame,
    sh_index: DataFrame,
    banded_index: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """One near-dup increment, the step the batch `dedup_incremental` and
    the stream `minhash_index_stream` both run: MinHash signatures of the
    new docs' distinct shingles `sh_new`, their bands, candidate pairs
    against `banded_index` ((new × index) ∪ (new × new), never index ×
    index), then exact Jaccard over the index's and the new shingles.
    Returns (verified pairs, the new bands — what the index appends).

    Every pair is found when its later member's batch runs, whichever
    way the corpus is split: both callers run this one function, so the
    batch result and any batching of the stream agree by construction."""
    sig = minhash_signature(sh_new, id_col, num_hashes)
    # shared: the probe side and the build-side union of the candidate
    # join (and, in the stream, the index append: a separate job)
    banded_new = cut(band_signatures(sig, id_col, num_hashes, bands))
    cand = incremental_candidate_pairs(banded_new, banded_index, id_col)
    verified = jaccard_verify(cand, sh_index.unionByName(sh_new), id_col, threshold)
    return verified, banded_new


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    hot_width: int | None = None,
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_key): docs
    sharing any band become candidate pairs (id_a < id_b). The band join
    is the scale path — no all-pairs comparison ever materializes.

    `hot_width` arms hot-band salting: buckets wider than it (boilerplate
    signatures) are routed through a blocked self-join whose per-key width
    is bounded at w·hot_width instead of w², with an IDENTICAL output pair
    set (equivalence asserted in tests on an all-duplicates corpus)."""
    banded = band_signatures(sig, id_col, num_hashes, bands)
    if hot_width is None:
        a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
        b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
        return (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    from pyspark.sql import Window as W

    # bucket width via a window count: one shuffle on the band key (vs
    # aggregate + join back), and the same partitioning feeds the blocked
    # self-join's row_number directly
    bw = banded.withColumn(
        "__w", F.count(F.lit(1)).over(W.partitionBy("band_idx", "band_key"))
    )
    cold = bw.filter(F.col("__w") <= hot_width)
    a = cold.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = cold.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    cold_pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    hot_pairs = _blocked_self_pairs(bw.filter(F.col("__w") > hot_width), id_col, hot_width)
    # a pair can surface from a cold bucket in one band and a hot bucket
    # in another — the distinct spans both routes
    return cold_pairs.union(hot_pairs).distinct()


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only. intersection and
    union are int64 counts → the ratio is bit-deterministic."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )
    return out


# --- SimHash ---

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over word tokens: bit b is set iff more than half
    the distinct tokens have hash-bit b set (equivalent to the ±1 vote
    formulation: 2·ones_b − n > 0).

    One explode + ONE hash-aggregate with ~bits/3 packed accumulators:
    per-bit one-counts are summed in 20-bit lanes, 3 lanes per int64
    (lane capacity 1,048,575 distinct tokens per doc — no real document
    comes close), instead of `bits` separate sum buffers — still ~3×
    fewer agg buffers than unpacked. Docs that somehow exceed lane
    capacity raise loudly instead of silently corrupting the signature
    (the earlier 10-bit packing overflowed quietly at 1024 tokens)."""
    lanes_per_pack = 3
    lane_bits = 20  # capacity 2^20-1 distinct tokens per doc; guarded below
    n_packs = (bits + lanes_per_pack - 1) // lanes_per_pack
    # All expression trees below are built as SQL strings and shipped in
    # a handful of selectExpr calls (round 15): the Column-API form made
    # ~hundreds of py4j round-trips (~1-3 ms each) per construction —
    # measured 1.6 s of driver time PER RUN of every simhash consumer.
    # The parsed trees are identical; all arithmetic is integer-exact,
    # so parity is untouched.
    pack_exprs = []
    for p in range(n_packs):
        terms = [
            f"shiftleft(CAST(shiftright(h, {p * lanes_per_pack + l}) & 1"
            f" AS BIGINT), {lane_bits * l})"
            for l in range(lanes_per_pack)
            if p * lanes_per_pack + l < bits
        ]
        pack_exprs.append(" + ".join(terms) + f" AS p{p}")
    toks = (
        df.selectExpr(
            id_col, f"explode(array_distinct(split({text_col}, ' '))) AS tok"
        )
        .selectExpr(id_col, f"{md5_int_spark('tok', salt='simhash')} AS h")
        .selectExpr(id_col, *pack_exprs)
    )
    agg = toks.groupBy(id_col).agg(
        F.expr("count(1)").alias("n_tok"),
        *[F.expr(f"sum(p{p})").alias(f"s{p}") for p in range(n_packs)],
    )
    mask = (1 << lane_bits) - 1
    sig_terms = []
    for b in range(bits):
        p, l = divmod(b, lanes_per_pack)
        sig_terms.append(
            f"CASE WHEN (shiftright(s{p}, {lane_bits * l}) & {mask}) * 2"
            f" > n_tok THEN {1 << b} ELSE 0 END"
        )
    # assert_true is NULL on success; folding it into the signature keeps
    # the optimizer from pruning the check away.
    guard = (
        f"coalesce(CAST(assert_true(n_tok <= {mask}, 'simhash lane "
        f"overflow: document has > {mask} distinct tokens') AS BIGINT), 0)"
    )
    return agg.selectExpr(
        id_col,
        f"CAST({' + '.join(sig_terms)} + {guard} AS BIGINT) AS simhash",
    )


def simhash_near_pairs(
    sig: DataFrame, id_col: str, bits: int = 16, max_hamming: int = 3
) -> DataFrame:
    """Near-pairs with hamming(simhash) ≤ max_hamming. Scale path: split
    the hash into (max_hamming+1) bands; pigeonhole guarantees every
    qualifying pair shares ≥1 exact band, so a band-equality join yields a
    candidate superset, then the exact hamming filter makes the output
    IDENTICAL to brute force."""
    bands = max_hamming + 1
    width = bits // bands
    mask = (1 << width) - 1
    # SQL-string construction (round 15, see simhash): identical trees,
    # one py4j call per select instead of one per Column operation
    structs = ", ".join(
        f"struct({b} AS band_idx, shiftright(simhash, {b * width}) & {mask}"
        f" AS band_key)"
        for b in range(bands)
    )
    banded = sig.selectExpr(
        id_col, "simhash", f"explode(array({structs})) AS band"
    ).selectExpr(id_col, "simhash", "band.band_idx", "band.band_key")
    a = banded.selectExpr(
        f"{id_col} AS id_a", "simhash AS sh_a", "band_idx", "band_key"
    )
    b = banded.selectExpr(
        f"{id_col} AS id_b", "simhash AS sh_b", "band_idx", "band_key"
    )
    # first-matching-band dedup: a pair colliding in several bands is kept
    # only where every EARLIER band differs — recomputable from the two
    # signatures as pure codegen math, so no distinct shuffle is needed
    # (both full signatures ride through the join anyway for the hamming
    # filter). Output set is identical to the distinct-based form.
    first_band = " AND ".join(
        f"(band_idx <= {bp} OR (shiftright(sh_a, {bp * width}) & {mask})"
        f" != (shiftright(sh_b, {bp * width}) & {mask}))"
        for bp in range(bands - 1)
    ) or "TRUE"
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter("id_a < id_b")
        .withColumn("hamming", F.expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(f"hamming <= {max_hamming}")
        .filter(first_band)
        .select("id_a", "id_b", "hamming")
    )
