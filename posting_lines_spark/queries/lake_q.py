"""Lake-layout operators: file-level data skipping and schema evolution —
what turns a directory of parquet into a queryable, evolvable table at
100 TB (the mini-Iceberg/Delta surface, minus the jars this container
doesn't have).

The reference's storage story is a single PostGIS table (sql_to_line.py:
183-201); these queries are the §2.1 extension surface for object-store
tables:

  files_prune_manifest — per-file min/max column stats (read off the
      `_metadata.file_path` pseudo-column) form a manifest; a range
      predicate prunes the file LIST before any scan is planned, so the
      engine opens only overlapping files. At 100 TB with date-clustered
      files this is the difference between scanning 3 files and 3000 —
      the same skip logic Iceberg manifests / Delta stats give you, and
      complementary to parquet's own row-group min/max (which still reads
      every footer). Oracle: the pruned+filtered aggregate must equal the
      full-scan aggregate — pruning may only skip files the predicate
      can't match.

  schema_evolution_read — two batches written under one table root with
      DIFFERENT schemas (a column added later); mergeSchema unifies them,
      old rows surface NULL for the new column, and the batch directory
      name becomes a partition column. This is how corpus tables actually
      grow — you add a quality-score column in March and must still read
      January. Oracle replays the evolution with CASE over the source
      table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.operators.cuts import cut
from posting_lines_spark.queries import register
from posting_lines_spark.sources import load_table
from posting_lines_spark.fixtures import scratch_dir

PRUNE_LO = "1995-01-01"
PRUNE_HI = "1995-12-31"

PRUNE_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS total_price,
       min(o_orderdate) AS min_date,
       max(o_orderdate) AS max_date
FROM orders
WHERE o_orderdate BETWEEN DATE '{PRUNE_LO}' AND DATE '{PRUNE_HI}'
GROUP BY o_orderstatus
"""


def file_manifest(df: DataFrame, stat_col: str) -> DataFrame:
    """Per-file (file, n_rows, min, max) stats via the _metadata
    pseudo-column — one scan of `stat_col` only (column-pruned), grouped
    by file. In a real lake this runs once at write/commit time and is
    stored next to the data; size = one row per FILE, so it stays
    driver-collectable at any data scale (100 TB ≈ 10⁵–10⁶ files)."""
    return df.groupBy(F.col("_metadata.file_path").alias("file")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(stat_col).alias("min_v"),
        F.max(stat_col).alias("max_v"),
    )


def prune_files(manifest_rows, lo, hi) -> list[str]:
    """Files whose [min,max] interval overlaps [lo,hi] — the only ones a
    BETWEEN predicate can match. NULL stats (all-null file) are kept:
    skipping them would need a null-count stat to be sound."""
    keep = []
    for r in manifest_rows:
        if r.min_v is None or r.max_v is None or (r.max_v >= lo and r.min_v <= hi):
            keep.append(r.file)
    return keep


@register(
    "files_prune_manifest",
    oracle=PRUNE_ORACLE,
    description="file-level data skipping: write orders range-clustered by "
    "date (8 files), build a per-file min/max manifest from "
    "_metadata.file_path, prune the file list against a year predicate "
    "BEFORE the scan, then aggregate — equality with the full-scan oracle "
    "proves pruning is sound; a test asserts it actually skips files "
    "(the Iceberg-manifest pattern without the jar)",
)
def files_prune_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir(prefix="pls_manifest_")
    # range-clustering is what MAKES files skippable: each file owns a
    # contiguous date slice, so min/max intervals are narrow
    o.repartitionByRange(8, "o_orderdate").write.mode("overwrite").parquet(path)
    full = spark.read.parquet(path)
    manifest = file_manifest(full, "o_orderdate").collect()
    # o_orderdate is a (naive) timestamp in the testdata; the DATE literals
    # coerce to midnight timestamps in both engines, so the prune interval
    # uses the same midnight bounds the predicate effectively has
    lo = datetime.datetime.fromisoformat(PRUNE_LO)
    hi = datetime.datetime.fromisoformat(PRUNE_HI)
    files = prune_files(manifest, lo, hi) or [path]
    pruned = spark.read.parquet(*files)
    return (
        pruned.filter(F.col("o_orderdate").between(F.lit(PRUNE_LO), F.lit(PRUNE_HI)))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


EVOLVE_ORACLE = """
SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS batch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS BIGINT)
         AS n_priced,
       CAST(sum(CAST(coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END, 0)
                     AS DECIMAL(38,6))) AS DOUBLE) AS price_sum,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY 1
"""


@register(
    "schema_evolution_read",
    oracle=EVOLVE_ORACLE,
    description="schema evolution: batch 1 written WITHOUT o_totalprice, "
    "batch 2 with it, one mergeSchema read unifies both under the table "
    "root — old rows NULL-fill the added column and the batch directory "
    "becomes a partition column; oracle replays the evolution with CASE "
    "(how corpus tables grow columns without rewriting history)",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir(prefix="pls_evolve_")
    old_cols = ["o_orderkey", "o_custkey", "o_orderdate"]
    o.filter(F.col("o_orderkey") % 2 == 0).select(*old_cols).write.mode(
        "overwrite"
    ).parquet(f"{root}/batch=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        *old_cols, "o_totalprice"
    ).write.mode("overwrite").parquet(f"{root}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.groupBy(F.col("batch").cast("int").alias("batch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_totalprice").alias("n_priced"),
            F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0)).cast("decimal(38,6)"))
            .cast("double")
            .alias("price_sum"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        )
    )


# --- bloom-filter file skipping (point lookups) ---
# min/max manifests prune RANGE predicates on the clustering column; a
# point lookup on an UNCORRELATED column (here o_custkey against
# date-clustered files) matches every file's min/max interval and prunes
# nothing. The lake answer is a per-file bloom filter in the manifest
# (Iceberg/Delta both store these): 8 KiB per file, probed as a filter
# over the manifest table before planning the scan (the driver receives
# matching file names only). Soundness is the bloom no-false-negative
# guarantee — a pruned file provably contains no matching row — so the
# pruned aggregate equals the full-scan oracle for ANY data; false
# positives only cost an extra file read.

BLOOM_PROBE_CUSTKEY = 7


def file_bloom_manifest(df: DataFrame, key_col: str) -> DataFrame:
    """(file, word, bits) bloom manifest via _metadata.file_path — same
    k=2 md5 positions as sketch_q's runtime bloom; one column-pruned
    scan. Returned as a FRAME, not a collect: at 10⁵ files × ≤1024 words
    the manifest is a small table, not a driver object — in a real lake
    it persists next to the data and probes run as filters against it
    (`bloom_probe_files` collects only the matching file names)."""
    from posting_lines_spark.queries.sketch_q import _bloom_hashes

    pos = df.select(
        F.col("_metadata.file_path").alias("file"),
        F.explode(F.array(*_bloom_hashes(f"CAST({key_col} AS STRING)"))).alias("pos"),
    )
    return (
        pos.select(
            "file",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("file", "w")
        .agg(F.bit_or("b").alias("bits"))
    )


def _bloom_probe_positions(key: str) -> list[int]:
    """Driver-side mirror of sketch_q's md5 bloom positions (bit-identical
    to the SQL: leading/second 15 hex chars of md5('bloom|'+key))."""
    import hashlib

    from posting_lines_spark.queries.sketch_q import BLOOM_M

    d = hashlib.md5(f"bloom|{key}".encode()).hexdigest()
    return [int(d[s * 15 : s * 15 + 15], 16) % BLOOM_M for s in (0, 1)]


def bloom_probe_files(manifest: DataFrame, key: str) -> list[str]:
    """Files whose bloom MIGHT contain `key`: per probe position, filter
    the manifest to the one word holding that bit and test it; a file
    passes only if BOTH positions hit (semi-join of the two hit sets).
    The driver receives the MATCHING file names only — bounded by the
    true match count + false positives, never the manifest size."""
    hits = None
    for p in _bloom_probe_positions(key):
        h = manifest.filter(
            (F.col("w") == p // 64)
            & (F.expr(f"(shiftright(bits, CAST({p % 64} AS INT)) & 1) = 1"))
        ).select("file")
        hits = h if hits is None else hits.intersect(h)
    return [r.file for r in hits.collect()]


BLOOM_PRUNE_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS total_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders
WHERE o_custkey = {BLOOM_PROBE_CUSTKEY}
"""


@register(
    "files_prune_bloom",
    oracle=BLOOM_PRUNE_ORACLE,
    description="bloom-filter file skipping: date-clustered files (min/max "
    "useless for a custkey point lookup) carry an 8 KiB bloom each in the "
    "manifest; the probe prunes the file list driver-side before the scan "
    "is planned. No false negatives ⇒ pruned result provably equals the "
    "full-scan oracle; false positives only cost an extra file read",
)
def files_prune_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir(prefix="pls_bloomman_")
    # date clustering: custkeys scatter across every file, the worst case
    # for min/max skipping and the motivating case for blooms
    o.repartitionByRange(8, "o_orderdate").write.mode("overwrite").parquet(path)
    full = spark.read.parquet(path)
    manifest = file_bloom_manifest(full, "o_custkey")
    keep = bloom_probe_files(manifest, str(BLOOM_PROBE_CUSTKEY))
    pruned = spark.read.parquet(*keep) if keep else full.limit(0)
    return pruned.filter(F.col("o_custkey") == BLOOM_PROBE_CUSTKEY).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# --- targeted delete via manifest-pruned file rewrite ---
# Immutable storage has no DELETE; the lake pattern (GDPR erasure,
# right-to-be-forgotten, bad-batch surgery) is: find the FILES that
# contain matching rows (manifest lookup — here min/max on the
# clustering key), rewrite ONLY those files without the rows, and leave
# every other file physically untouched. Cost ∝ files-containing-key,
# not table size — on a 10⁵-file table a user erasure rewrites a
# handful of files. The oracle is the logical DELETE (anti-filter over
# the source table); a test additionally pins that non-matching files
# are byte-identical originals (never rewritten).

DELETE_KEYS = (7, 2500)


def targeted_delete(
    spark: SparkSession, path: str, key_col: str, keys: list
) -> tuple[DataFrame, int, int]:
    """Rewrite-only-matching-files delete. Returns (table_df, n_files,
    n_rewritten). The rewritten replacements land in a sidecar dir; the
    returned frame is untouched-originals ∪ rewrites — exactly the file
    set a table-format commit (Iceberg/Delta) would swap in atomically."""

    full = spark.read.parquet(path)
    manifest = file_manifest(full, key_col).collect()
    hit, untouched = [], []
    for r in manifest:
        if any(
            r.min_v is None or r.max_v is None or (r.min_v <= k <= r.max_v)
            for k in keys
        ):
            hit.append(r.file)
        else:
            untouched.append(r.file)
    if not hit:
        return full, len(manifest), 0
    rewrite_dir = scratch_dir(prefix="pls_delete_rw_")
    (
        spark.read.parquet(*hit)
        # NULL keys never match a delete predicate: bare ~isin(...) is NULL
        # for NULL input (row silently dropped from rewrites only), so keep
        # NULL-key rows explicitly for consistent semantics across files.
        .filter((~F.col(key_col).isin(list(keys))) | F.col(key_col).isNull())
        .write.mode("overwrite")
        .parquet(rewrite_dir)
    )
    rewritten = spark.read.parquet(rewrite_dir)
    out = (
        spark.read.parquet(*untouched).unionByName(rewritten)
        if untouched
        else rewritten
    )
    return out, len(manifest), len(hit)


DELETE_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
WHERE o_custkey NOT IN {DELETE_KEYS}
GROUP BY o_orderstatus
"""


@register(
    "lake_delete_rewrite",
    oracle=DELETE_ORACLE,
    description="targeted delete on immutable storage: manifest lookup "
    "finds the files containing the erased keys (custkey-clustered "
    "layout), ONLY those files are rewritten without the rows, all "
    "others stay physically untouched — cost ∝ matching files, not "
    "table size; oracle is the logical DELETE over the source",
)
def lake_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir(prefix="pls_delete_")
    # custkey clustering makes the erasure key prunable (the layout choice
    # a GDPR-erasable table makes deliberately)
    o.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(path)
    table, _, _ = targeted_delete(spark, path, "o_custkey", list(DELETE_KEYS))
    return (
        table.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        )
    )


# --- SCD2 time travel (point-in-time read) ---
# The read half of the SCD2 story (operators/scd.py — the write half is
# exercised by stream_scd_upsert): reconstruct the state of every user
# AS OF a fixed instant from the validity-interval table. History =
# per-user event timeline with [valid_from, valid_to) from a lead()
# window (tie-safe on (µs, event_id) — an empty interval from duplicate
# timestamps can never cover an instant, matching the argmax). The
# oracle recomputes the same snapshot INDEPENDENTLY as a per-user argmax
# of (µs, event_id) among events ≤ T — interval containment vs argmax,
# two algorithms, one answer. Scale: one user-keyed window builds the
# history; the as-of read is a map-side filter on any interval table.

# 2024-01-15 12:00:00 UTC in epoch microseconds (mid-timeline)
_AS_OF_US = 1705320000000000

SCD2_TT_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events WHERE epoch_us(ts) <= {_AS_OF_US}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM ranked WHERE rn = 1
GROUP BY event_type
"""


@register(
    "scd2_time_travel",
    oracle=SCD2_TT_ORACLE,
    description="SCD2 point-in-time read: per-user state AS OF a fixed "
    "instant via validity-interval containment (operators/scd.py "
    "scd2_as_of) over a lead()-built history — oracle recomputes the "
    "snapshot as an independent per-user argmax; the time-travel read "
    "every history-keeping lake serves",
)
def scd2_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from posting_lines_spark.operators.scd import scd2_as_of

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    hist = e.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("valid_from"),
        F.lead(F.expr("unix_micros(ts)")).over(w).alias("valid_to"),
    )
    snap = scd2_as_of(hist, F.lit(_AS_OF_US))
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
    )


# --- Hilbert-clustered WRITE + min/max file skipping, end to end ---
# Round-4 verdict #8: spatial_hilbert_locality measures curve locality
# as a query, but nothing WROTE with the index. This closes the loop —
# the lakehouse "z-order/cluster-by" maintenance operation done with
# plain Spark primitives:
#   1. enrich segments with 64×64 grid cells (cx, cy) and the Hilbert
#      index hd (computed once per DISTINCT cell — ≤4096 rows — then
#      broadcast-joined back to the row stream: the curve recurrence
#      never runs per row);
#   2. write the SAME rows twice into 16 files each: hash-partitioned
#      (the unclustered strawman) and repartitionByRange(hd) +
#      sortWithinPartitions(hd) (the clustered layout — each file owns a
#      contiguous curve range, hence a tight (cx, cy) bounding box);
#   3. build per-file min/max (cx, cy) manifests via _metadata.file_path
#      and prune both file lists against a bbox predicate driver-side;
#   4. scan ONLY the surviving clustered files, apply the exact bbox
#      filter, aggregate.
# Equality with the full-scan oracle proves pruning sound; the
# layout_wins column (and the stronger count assertion in
# tests/test_lake.py) records that the clustered layout pruned strictly
# more files than the hash layout for the same predicate. At 100 TB this
# is the standard OPTIMIZE/cluster-by job: one range shuffle at write
# time buys bbox scans that touch O(bbox-area / file-extent) files.

HILB_FILES = 16
# cx_lo, cx_hi, cy_lo, cy_hi. Chosen inside the OCCUPIED extent at every
# shipped SF (the AIS track covers only cx≤12, cy≤5 at sf0.001 — a box
# outside the extent would prune to zero files in BOTH layouts and the
# comparison would be vacuous).
HILB_BBOX = (2, 9, 1, 4)


def _hilbert_rows_sql() -> str:
    from posting_lines_spark.queries.extra_q import _CELLS
    from posting_lines_spark.queries.geo_q import enriched_sql

    base = _CELLS.format(base=enriched_sql(keep_extra=["start_lon", "start_lat"]))
    return f"SELECT segment_id, len_m, cx, cy FROM ({base})"


def _hilbert_write_layouts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the SAME rows into both layouts (clustered-by-curve and
    hash-partitioned strawman), HILB_FILES files each; returns
    (clustered_path, hashed_path). Split out so the bbox sweep in
    tests/test_lake.py can write once and prune many."""
    from posting_lines_spark.queries.extra_q import _hilbert_layers

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    rows = spark.sql(_hilbert_rows_sql())
    rows.createOrReplaceTempView("pls_hilb_rows")
    hsql, hlast = _hilbert_layers("cells")
    cell_hd = spark.sql(
        f"WITH cells AS (SELECT DISTINCT cx, cy FROM pls_hilb_rows),\n{hsql}\n"
        f"SELECT cx, cy, hd FROM {hlast}"
    )
    # shared: materialize the enriched+curve-indexed rows ONCE (round
    # 15): both layout writes (two jobs) consume `data`, and without the
    # cut each write re-ran the full enrich+join lineage (profiled: the
    # rows subtree computed 3× per query — 2 writes + the cell distinct)
    data = cut(
        rows.join(F.broadcast(cell_hd), ["cx", "cy"]).select(
            "segment_id", "len_m", "cx", "cy", "hd"
        ),
        eager=True,
    )
    p_clustered = scratch_dir(prefix="pls_hilbw_c_")
    p_hashed = scratch_dir(prefix="pls_hilbw_h_")

    # The two layout writes are independent jobs over the same
    # materialized input — overlap them (guide §2.6: submit independent
    # actions from a small thread pool so one job's task tail back-fills
    # the other's executors; job descriptions are thread-local).
    from concurrent.futures import ThreadPoolExecutor

    def _write_clustered() -> None:
        (
            data.repartitionByRange(HILB_FILES, "hd")
            .sortWithinPartitions("hd")
            .write.mode("overwrite")
            .parquet(p_clustered)
        )

    def _write_hashed() -> None:
        data.repartition(HILB_FILES, "segment_id").write.mode("overwrite").parquet(
            p_hashed
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        fc, fh = ex.submit(_write_clustered), ex.submit(_write_hashed)
        fc.result(), fh.result()
    return p_clustered, p_hashed


def _bbox_kept_files(spark: SparkSession, path: str, bbox: tuple) -> list[str]:
    """Per-file min/max (cx, cy) manifest via _metadata.file_path, pruned
    driver-side against the bbox — the file-skipping decision a lake
    format makes from footer stats."""
    cx_lo, cx_hi, cy_lo, cy_hi = bbox
    man = (
        spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(
            F.min("cx").alias("min_cx"), F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"), F.max("cy").alias("max_cy"),
        )
        .collect()
    )
    return [
        r.file
        for r in man
        if r.max_cx >= cx_lo and r.min_cx <= cx_hi
        and r.max_cy >= cy_lo and r.min_cy <= cy_hi
    ]


def _hilbert_write_and_prune(spark: SparkSession, sf_dir: str):
    """Returns (pruned clustered scan DF filtered to the bbox,
    n_files_kept_clustered, n_files_kept_hashed). Helper shared by the
    registered query and the pruning-count test."""
    p_clustered, p_hashed = _hilbert_write_layouts(spark, sf_dir)

    cx_lo, cx_hi, cy_lo, cy_hi = HILB_BBOX
    # the two manifest scans are independent — overlap them (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_c = ex.submit(_bbox_kept_files, spark, p_clustered, HILB_BBOX)
        f_h = ex.submit(_bbox_kept_files, spark, p_hashed, HILB_BBOX)
        keep_c, keep_h = f_c.result(), f_h.result()
    # Fail LOUDLY at the source if the comparison ever goes vacuous (a
    # future SF where the bbox overlaps every clustered file's extent,
    # or range partitioning yields fewer non-empty files) rather than as
    # a confusing layout_wins/files_total oracle parity diff — the
    # oracle hardcodes layout_wins=TRUE and files_total=HILB_FILES.
    if not (0 < len(keep_c) < len(keep_h)):
        raise AssertionError(
            f"hilbert pruning comparison vacuous: clustered kept "
            f"{len(keep_c)}/{HILB_FILES}, hashed kept {len(keep_h)}/"
            f"{HILB_FILES} for bbox {HILB_BBOX} — retune HILB_BBOX"
        )
    pruned = spark.read.parquet(*(keep_c or [p_clustered])).filter(
        F.col("cx").between(cx_lo, cx_hi) & F.col("cy").between(cy_lo, cy_hi)
    )
    return pruned, len(keep_c), len(keep_h)


def _hilbert_write_oracle() -> str:
    from posting_lines_spark.queries.extra_q import _CELLS
    from posting_lines_spark.queries.geo_q import enriched_sql
    from posting_lines_spark.queries.parity import dsum_expr

    cx_lo, cx_hi, cy_lo, cy_hi = HILB_BBOX
    base = _CELLS.format(base=enriched_sql(keep_extra=["start_lon", "start_lat"]))
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_segments,
       {dsum_expr("len_m")} AS total_len_m,
       CAST({HILB_FILES} AS BIGINT) AS files_total,
       TRUE AS layout_wins
FROM ({base})
WHERE cx BETWEEN {cx_lo} AND {cx_hi} AND cy BETWEEN {cy_lo} AND {cy_hi}
"""


@register(
    "lake_hilbert_write",
    oracle=_hilbert_write_oracle(),
    description="write-side Hilbert clustering end to end: per-cell curve "
    "index broadcast onto the row stream, repartitionByRange(hd) write vs "
    "a hash-partitioned strawman (16 files each), per-file min/max "
    "(cx, cy) manifests, driver-side bbox pruning, then the aggregate "
    "over ONLY the surviving clustered files — equality with the "
    "full-scan oracle proves pruning sound, layout_wins records the "
    "clustered layout pruning strictly more files; the OPTIMIZE/"
    "cluster-by maintenance job in plain Spark primitives",
)
def lake_hilbert_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from posting_lines_spark.queries.parity import dsum_expr

    pruned, n_c, n_h = _hilbert_write_and_prune(spark, sf_dir)
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.expr(dsum_expr("len_m")).alias("total_len_m"),
        F.lit(HILB_FILES).cast("long").alias("files_total"),
        F.lit(n_c < n_h).alias("layout_wins"),
    )


# --- small-file compaction (the OPTIMIZE bin-packing maintenance job) ---
# The other half of lake maintenance next to lake_hilbert_write's
# clustering: a fragmented table (here: deliberately written as
# COMPACT_SMALL_FILES hash-partitioned files) is re-packed into
# ~COMPACT_BINS right-sized files by greedy sequential bin packing over
# the per-file byte sizes from the _metadata manifest (one row per
# FILE — driver-collectable at any data scale, same argument as
# file_manifest). Each bin's files are read together and rewritten as
# one file; the query returns the per-status content aggregate over the
# COMPACTED table, so equality with the plain-orders oracle proves the
# rewrite lost/duplicated nothing. The file-count reduction itself is
# asserted in-engine (loud failure, per the lake_hilbert_write
# pattern) and pinned by tests.
#
# Scale: planning is O(n_files) driver-side; execution reads each input
# file once and writes each output file once (one coalesce(1) job per
# bin — at 100 TB you'd submit bins as parallel jobs or one job with a
# bin-keyed repartition; per-bin data is target_bytes-bounded by
# construction).

COMPACT_SMALL_FILES = 32
COMPACT_BINS = 4

COMPACT_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@register(
    "lake_compaction_plan",
    oracle=COMPACT_ORACLE,
    description=f"small-file compaction: {COMPACT_SMALL_FILES} fragmented "
    f"files re-packed into ~{COMPACT_BINS} by greedy byte-size bin "
    "packing over the _metadata manifest, executed bin-by-bin, then the "
    "content aggregate over the COMPACTED table — equality with the "
    "plain-orders oracle proves the rewrite is lossless; file-count "
    "reduction asserted in-engine; planning O(n_files) driver-side, "
    "per-bin data target-bounded",
)
def lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p_small = scratch_dir(prefix="pls_compact_in_")
    p_out = scratch_dir(prefix="pls_compact_out_")
    o.repartition(COMPACT_SMALL_FILES, "o_orderkey").write.mode("overwrite").parquet(
        p_small
    )
    man = (
        spark.read.parquet(p_small)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(F.first(F.col("_metadata.file_size")).alias("bytes"))
        .collect()
    )
    n_before = len(man)
    total = sum(r.bytes for r in man)
    target = max(1, -(-total // COMPACT_BINS))  # ceil
    bins: dict[int, list[str]] = {}
    cum = 0
    for r in sorted(man, key=lambda r: r.file):  # deterministic plan order
        bins.setdefault(cum // target, []).append(r.file)
        cum += r.bytes
    for files in bins.values():
        spark.read.parquet(*files).coalesce(1).write.mode("append").parquet(p_out)
    n_after = (
        spark.read.parquet(p_out)
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
        .count()
    )
    if not (0 < n_after < n_before):
        raise AssertionError(
            f"compaction did not reduce file count: {n_before} -> {n_after} "
            f"(bins={len(bins)}, target={target}B)"
        )
    return (
        spark.read.parquet(p_out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("string")
            .cast("double")
            .alias("total_price"),
        )
    )


# --- vacuum audit: orphan files (listing vs manifest anti-join) ---
# The maintenance query behind `VACUUM`/`remove_orphan_files` in
# Iceberg/Delta: files present in the table directory but absent from
# the committed manifest are failed-commit leftovers — they silently
# cost storage and, worse, get picked up by naive directory-scan
# readers. Simulated honestly end-to-end: a registered snapshot
# (8-file write → manifest captured), then an uncommitted append (3
# more files land on disk with no manifest entry), then the audit:
# listing ∖ manifest via one left-anti join on file path. File names
# and byte sizes are writer-nondeterministic, so the RELEASED columns
# are the deterministic ones: file counts and the ROW count inside the
# orphan files (read back through the engine); the oracle states the
# expected counts from the source table — orphan rows must equal the
# uncommitted filter's row count exactly, or the audit misattributed a
# file.
#
# Scale: manifest and listing are METADATA-bounded (one row per file;
# the _metadata pseudo-column never touches row data for the listing
# aggregate); the anti-join is file-count-shaped. Orphan-row readback
# scans only the orphaned files.

VAC_FILES, VAC_ORPHAN_MOD = 8, 10


def _vacuum_oracle() -> str:
    return f"""
SELECT CAST({VAC_FILES} AS BIGINT) AS n_registered,
       CAST(count(CASE WHEN o_orderkey % {VAC_ORPHAN_MOD} = 0 THEN 1 END)
            AS BIGINT) AS orphan_rows,
       CAST(count(*) AS BIGINT) AS registered_rows
FROM orders
"""


@register(
    "lake_vacuum_orphans",
    oracle=_vacuum_oracle(),
    description=f"vacuum/remove_orphan_files audit: {VAC_FILES}-file "
    "committed snapshot + manifest, an uncommitted append left on "
    "disk, orphans = listing ∖ manifest via one left-anti join on "
    "file path (metadata-bounded), orphan ROW count read back through "
    "the engine and checked against the uncommitted filter's exact "
    "count — the Iceberg/Delta maintenance primitive without the jar",
)
def lake_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir(prefix="pls_vacuum_")
    o.repartition(VAC_FILES, "o_orderkey").write.mode("overwrite").parquet(path)
    manifest = cut(  # pin: the committed snapshot, BEFORE the orphan append lands
        spark.read.parquet(path).select(F.col("_metadata.file_path").alias("file")).distinct(),
        eager=True,
    )
    # uncommitted append: rows land on disk, no manifest entry
    o.filter(F.col("o_orderkey") % VAC_ORPHAN_MOD == 0).repartition(3).write.mode(
        "append"
    ).parquet(path)
    listing = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
    )
    orphan_files = [
        r["file"] for r in listing.join(manifest, "file", "left_anti").collect()
    ]
    orphan_rows = (
        spark.read.parquet(*orphan_files).count() if orphan_files else 0
    )
    n_registered = manifest.count()
    registered_rows = (
        spark.read.parquet(path).count() - orphan_rows
    )
    return spark.createDataFrame(
        [(n_registered, orphan_rows, registered_rows)],
        "n_registered long, orphan_rows long, registered_rows long",
    )
