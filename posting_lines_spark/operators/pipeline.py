"""The reference's ETL pipeline re-expressed as Spark transformations.

Reference lifecycle (sql_to_line.py `main`, SURVEY.md §3.1):
  DETECT  `SELECT segmentid WHERE geom IS NULL`       (S1:39-50, O2)
  CLEAN   `DELETE FROM input WHERE duration = 0`      (S1:144-149, O12)
  STAGE   per-day temp table + filtered INSERT        (S1:151-202, O3/O4)
  ENRICH  4 sequential whole-table UPDATEs            (S1:205-224, O16-O21)
  MERGE   `UPDATE main ... FROM temp ON segmentid`    (S1:227-234, O5)
  COMMIT  per day                                     (S1:125-126, O6)

Spark collapses this to ONE lazy scan→project plan (SURVEY.md §3.4): the
staging table disappears (P3 — lazy eval composes the four UPDATE passes
into a single fused projection), the per-day loop disappears (Q6 — rows
are independent; day granularity survives as the output partition column),
and the merge-back needs no join when the enrichment is derived from the
same table (`enrich_segments`). The generic update-join (`merge_update`)
covers the case where updates genuinely arrive from elsewhere.

Scale notes (100 TB): `enrich_segments` is shuffle-free — a map-only plan
over columnar batches, fully whole-stage-codegen'd; it scales linearly
with input splits.

Plan-size hazard: the geodesy kernel is a large expression tree; pushing
predicates *through* it (filtering on derived columns of a still-lazy
enrichment) makes Catalyst inline the kernel into the predicate — past
~64KB of generated code Janino refuses and Spark falls back to
interpreted evaluation. Consume enriched outputs across a storage
boundary (write parquet / read back — exactly what the reference's
UPDATE does) before filtering on derived values, or filter on the
assembled `geom` struct (a `named_struct`, non-null by construction → the
common `geom IS NULL` incrementality predicate constant-folds to an empty
relation; tests/test_pipeline.py pins it). The kernel's size also costs
driver time: it is built as ONE projection whose layers refer to each
other by lateral column alias (functions/geo.py `project_layers`), so
Spark analyzes it once instead of once per `withColumn` step.

`merge_update` shuffles both sides on the key unless
the update side is small enough to broadcast (pass broadcast_updates=True
or let AQE convert it); `write_daily_partitioned` hash-partitions by day
so each output partition is written by one task — idempotent dynamic
overwrite replaces the reference's per-day commit for crash safety (P7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posting_lines_spark.functions import geo

_ENRICH_POINTS = [("start_lon", "start_lat", "_new1"), ("end_lon", "end_lat", "_new2")]


def detect_unprocessed(df: DataFrame, key: str = "segment_id") -> DataFrame:
    """O2: the `geom IS NULL` change-detection scan (S1:41-45). Returns the
    key column only — Catalyst prunes the parquet scan to one column."""
    return df.filter(F.col("geom").isNull()).select(key)


def clean_zero_duration(df: DataFrame) -> DataFrame:
    """O12: the reference deletes rows that would break SOG ("zero duration
    ais lines which messes with SOG", S1:145). Immutable-storage form:
    a filter rewrite of the table."""
    return df.filter(F.col("duration") != 0)


def enrich_segments(df: DataFrame, srid: int = 3005) -> DataFrame:
    """Full v1 pipeline semantics in one distributed pass: clean, then fill
    geom/len_m/sog_kt for rows where `geom IS NULL`, preserving already-
    processed rows untouched (the incrementality contract, S1:38-41).

    Idempotent: a second run is a no-op because no row has NULL geom
    afterwards (golden test §5.2). Stale-but-non-null rows never refresh —
    preserved reference quirk Q5 (self-acknowledged at S1:38,43); the
    documented extension is `refresh_stale` below.
    """
    return _enrich_where(clean_zero_duration(df), "geom IS NULL", srid)


def refresh_stale(df: DataFrame, since, srid: int = 3005) -> DataFrame:
    """The Q5 EXTENSION (SURVEY.md Q5: "document lastChange-based refresh
    as extension"; reference blind spot self-acknowledged at S1:38,43):
    recompute the derived columns not only where `geom IS NULL` but ALSO
    where `last_change > since` — rows whose source fields changed after
    they were processed. v1 semantics never refresh those (quirk Q5,
    preserved verbatim in `enrich_segments` for parity); this operator is
    the documented fix, kept SEPARATE so the parity path stays untouched.

    `since` is the processed-at watermark of the last pipeline run: a
    date or timestamp, or its ISO string, compared as a string literal
    (Spark casts it to `last_change`'s type). Same shuffle-free map-only
    plan as `enrich_segments`; idempotent at a fixed `since` — refreshed
    rows recompute to the same values on a second pass."""
    todo = f"geom IS NULL OR last_change > '{since}'"
    return _enrich_where(clean_zero_duration(df), todo, srid)


_REPLACED = ("len_m", "sog_kt", "geom")


def _enrich_where(df: DataFrame, todo: str, srid: int) -> DataFrame:
    """Shared enrichment body: recompute geom/len_m/sog_kt where the SQL
    predicate `todo` holds, preserve everything else. One fused
    scan→project plan (P3), built as ONE projection (`__todo`, the Albers
    layers, the merged values) and a final one that puts the merged values
    in place of `len_m`/`sog_kt`/`geom` and drops the rest."""
    new_len = geo.line_length_m_sql("x_new1", "y_new1", "x_new2", "y_new2")
    # Merge per SCALAR, then assemble the struct from the merged scalars:
    # the output geom is a struct constructor (provably non-null), so a
    # downstream `geom IS NULL` constant-folds to false instead of pushing
    # a kernel-sized predicate into the plan (Janino's 64KB method limit
    # turns such predicates into interpreted evaluation — measured 200s
    # for two counts; see also the materialize-at-the-boundary note above).
    merged = ", ".join(
        f"'{c}{p}', CASE WHEN __todo THEN {c}_new{p} ELSE geom.{c}{p} END"
        for p in ("1", "2")
        for c in ("x", "y")
    )
    layers = [[("__todo", f"({todo})")], *geo.albers_layers(_ENRICH_POINTS), [
        ("__len_m", f"CASE WHEN __todo THEN {new_len} ELSE len_m END"),
        ("__sog_kt",
         f"CASE WHEN __todo THEN {geo.sog_kt_sql('__len_m', 'duration')} ELSE sog_kt END"),
        ("__geom", f"named_struct('srid', {srid}, {merged})"),
    ]]
    out = geo.project_layers(df, layers)
    return out.selectExpr(*(f"__{c} AS {c}" if c in _REPLACED else f"`{c}`" for c in df.columns))


def merge_update(
    main: DataFrame,
    updates: DataFrame,
    key: str,
    set_cols: list[str],
    broadcast_updates: bool = False,
) -> DataFrame:
    """O5: `UPDATE main a SET c = b.c FROM updates b WHERE a.key = b.key`
    (S1:227-234) on immutable storage: left join + conditional overwrite.

    Matched rows take the update's value even when it is NULL (exact
    UPDATE..FROM semantics, hence a match flag instead of coalesce).
    The update side is usually the small side — broadcast it to skip
    shuffling the main table.
    """
    upd = updates.select(
        F.col(key),
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__u_{c}") for c in set_cols],
    )
    if broadcast_updates:
        upd = F.broadcast(upd)
    out = main.join(upd, key, "left")
    for c in set_cols:
        out = out.withColumn(c, F.when(F.col("__matched"), F.col(f"__u_{c}")).otherwise(F.col(c)))
    return out.drop("__matched", *[f"__u_{c}" for c in set_cols])


def daily_counts(df: DataFrame, ts_col: str = "start_time") -> DataFrame:
    """O14+O15: the reference's client-side `set()` of dates (S1:81-88) and
    per-day processed counts (S1:113-131), pushed into the engine as one
    hash aggregate (partial+final — map-side combine, no skew risk on
    date keys)."""
    return (
        df.groupBy(F.to_date(ts_col).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_segments"))
    )


def write_daily_partitioned(df: DataFrame, path: str, ts_col: str = "start_time") -> None:
    """O6/P2: per-day commit granularity → dynamic partition overwrite on
    to_date(ts). Idempotent re-runs replace only the days present in `df`
    (the reference's crash-safety motive, S1:92-94 / Q6).

    Scale note: partition granularity is a real design choice — day
    partitions over years of sparse data create a small-files problem
    (N_days × N_tasks files); repartition("__day") keeps it to one file
    per day here. At 100 TB with dense days, add a second bucket column
    or coalesce per partition to target ~128MB-1GB files."""
    (
        df.withColumn("__day", F.to_date(ts_col))
        .repartition("__day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__day")
        .parquet(path)
    )
