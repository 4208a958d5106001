"""Structured Streaming twins of the batch pipeline (SURVEY.md §2.8/§7 ph.4).

The reference encodes incrementality in DATA (`geom IS NULL`, rerun the
script — sql_to_line.py:38-41); the engine facility for that pattern is a
file-source stream with `trigger(availableNow=True)` + `foreachBatch`
running the SAME batch transformation: each run drains exactly the new
files, checkpoint state replaces the geom-null scan, and the enrichment
code is shared verbatim with batch (no dual implementation).

Sessionization is the genuinely stateful op: `session_window` with a
watermark — the streaming twin of the batch gaps-and-islands query
(queries/windows_q.py::window_sessionize).

Scale notes: availableNow batches respect maxFilesPerTrigger for bounded
memory; checkpoints make re-runs exactly-once into idempotent sinks
(dynamic partition overwrite pairs with per-day partitioning, P7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from posting_lines_spark.fixtures import scratch_dir
from posting_lines_spark.operators.pipeline import enrich_segments
from posting_lines_spark.sources import stream_schema
from posting_lines_spark.streaming.tuning import stream_shuffle_scope


def enrich_available_now(
    spark: SparkSession, source_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Run the batch enrichment as an incremental stream over a parquet
    directory: drain-all-available, then stop. Re-running after new files
    arrive processes only the delta (checkpoint-tracked)."""
    schema = stream_schema(spark, source_dir, checkpoint_dir)
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        enrich_segments(batch_df).write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream_append_parquet(
    spark: SparkSession,
    events: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    src_dir: str | None = None,
) -> DataFrame:
    """Streaming exactly-once dedup: `dropDuplicates` over key_cols with a
    watermark. Each first-seen row is emitted immediately (append mode);
    a later row with a key already seen is dropped, and so is a row
    arriving behind the watermark. State is evicted by the watermark only
    when `key_cols` holds `ts_col`; otherwise Spark can never evict it,
    so the state grows with every distinct key and the watermark only
    drops late rows. Such a query skips Spark's no-data micro-batch,
    which would only load and commit every state partition again. The
    streaming twin of exact_dedup for ingest pipelines. Pass `src_dir` to
    stream from an already-materialized parquet dir (skips the fixture
    write). Returns the sink's rows, read with the stream's schema."""
    if src_dir is not None:
        src = src_dir
    else:
        src = scratch_dir("pls_dedup_src_")
        events.write.mode("overwrite").parquet(src)
    schema = stream_schema(spark, src, checkpoint_dir)
    stream = spark.readStream.schema(schema).parquet(src)
    with stream_shuffle_scope(spark, src, no_data_batches=ts_col in key_cols):
        q = (
            stream.withWatermark(ts_col, watermark)
            .dropDuplicates(key_cols)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(schema).parquet(out_dir)


def _session_agg(stream: DataFrame, gap: str, watermark: str) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )


def session_windows_append_parquet(
    spark: SparkSession,
    events: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    src_dir: str | None = None,
) -> DataFrame:
    """THE scale path for streaming sessionization: append-mode parquet
    sink. Sessions are emitted exactly once, when the event-time watermark
    passes their end (state for them is then evicted — bounded memory,
    unbounded stream); sessions still open at the final watermark stay in
    state for the next incremental run instead of being re-emitted, which
    is what makes the file sink exactly-once under re-runs. The memory-
    sink/complete-mode variant below is driver-memory bound and exists for
    tests only. Returns the emitted sessions read back from the sink.
    Pass `src_dir` to stream from an already-materialized parquet dir."""
    if src_dir is not None:
        src = src_dir
    else:
        src = scratch_dir("pls_stream_src_")
        events.write.mode("overwrite").parquet(src)
    schema = stream_schema(spark, src, checkpoint_dir)
    stream = spark.readStream.schema(schema).parquet(src)
    with stream_shuffle_scope(spark, src):
        q = (
            _session_agg(stream, gap, watermark)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def scd_upsert_available_now(
    spark: SparkSession,
    initial: DataFrame,
    updates: DataFrame | None,
    table_dir: str,
    checkpoint_dir: str,
    key: str,
    ts_col: str,
    attr_cols: list[str],
    order_cols: list[str] | None = None,
    src_dir: str | None = None,
) -> DataFrame:
    """Streaming CDC upsert: a change stream applied to an SCD2 table via
    foreachBatch — the MERGE INTO pattern without a lakehouse format.
    The table lives as VERSIONED parquet snapshots (table_dir/v{n});
    each batch collapses to latest-per-key (deterministic order), applies
    scd2_apply against the latest snapshot, and writes the next version —
    readers never see a half-written table and time travel is free.

    At scale the same shape holds (Delta/Iceberg would replace the
    versioned-dir bookkeeping with transactional metadata); per-batch
    cost is one broadcast of the collapsed updates against the current
    snapshot. Returns the final SCD2 table."""
    import os

    from pyspark.sql import Window as W

    from posting_lines_spark.operators.scd import scd2_apply

    initial.write.mode("overwrite").parquet(os.path.join(table_dir, "v0"))

    if src_dir is not None:
        src = src_dir
    else:
        src = scratch_dir("pls_cdc_src_")
        updates.write.mode("overwrite").parquet(src)
    schema = stream_schema(spark, src, checkpoint_dir)
    stream = spark.readStream.schema(schema).parquet(src)

    order = order_cols or [ts_col]

    def versions() -> list[int]:
        return sorted(
            int(d[1:]) for d in os.listdir(table_dir) if d.startswith("v")
        )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        wdw = W.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(wdw))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        cur_v = versions()[-1]
        cur = spark.read.parquet(os.path.join(table_dir, f"v{cur_v}"))
        new = scd2_apply(cur, latest, key, ts_col, attr_cols)
        new.write.mode("overwrite").parquet(os.path.join(table_dir, f"v{cur_v + 1}"))

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(table_dir, f"v{versions()[-1]}"))


def stream_stream_join_append_parquet(
    spark: SparkSession,
    events: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
    src_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each `right_type`
    event to the same user's `left_type` events in the preceding
    `horizon` (click→purchase attribution). Both sides carry a watermark
    and the join has a two-sided time constraint, so state for rows whose
    match window the watermark has passed is evicted — bounded state on
    unbounded streams, the scale requirement for stream-stream joins.

    Inner-join matches are emitted as found (append mode). A drain of a
    bounded backlog in one availableNow batch emits exactly the batch
    interval-join result. Under multi-batch drains the eviction contract
    is CROSS-BATCH (measured, round 3): state behind the watermark is
    evicted at batch end, so a late row cannot match a partner arriving
    in a LATER batch — that is the bounded-state guarantee — while a
    late pair landing together in one batch still matches (the symmetric
    hash join probes same-batch rows before eviction). Pinned by
    tests/test_operators.py's multi-batch eviction test via `src_dir` +
    `max_files_per_trigger=1`, which replays files as separate
    micro-batches in modification-time order."""
    if src_dir is None:
        src = scratch_dir("pls_ssj_src_")
        events.write.mode("overwrite").parquet(src)
    else:
        src = src_dir
    schema = stream_schema(spark, src, checkpoint_dir)

    def side(event_type: str, tag: str) -> DataFrame:
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return (
            reader.parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"u_{tag}"),
                F.col("ts").alias(f"ts_{tag}"),
                F.col("event_id").alias(f"{tag}_id"),
            )
            .withWatermark(f"ts_{tag}", watermark)
        )

    a, b = side(left_type, "a"), side(right_type, "b")
    joined = a.join(
        b,
        F.expr(f"u_a = u_b AND ts_b >= ts_a AND ts_b <= ts_a + INTERVAL {horizon}"),
    ).select(
        F.col("u_a").alias("user_id"),
        F.col("a_id").alias("left_id"),
        F.col("b_id").alias("right_id"),
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )
    with stream_shuffle_scope(spark, src):
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def session_windows_available_now(
    spark: SparkSession, events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """TEST HARNESS ONLY — complete-mode memory sink (driver-memory bound):
    returns every session including ones the watermark hasn't closed.
    Production/scale code uses `session_windows_append_parquet`."""
    src = scratch_dir("pls_stream_src_")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"sessions_{abs(hash(src)) % 10**8}"
    with stream_shuffle_scope(spark, src):
        q = (
            _session_agg(stream, gap, "1 hour")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def minhash_index_stream(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Continuous near-dup index maintenance: each micro-batch of documents
    computes its OWN MinHash band signatures, probes the persisted band
    index ((new × index) ∪ (new × new) — never index × index), verifies
    exact Jaccard against the persisted shingle state, appends the
    verified pairs, then folds its own rows into the index.

    Every pair is discovered exactly once — when its later-arriving
    member's batch runs — so the cumulative pair table equals the batch
    recompute REGARDLESS of how the corpus is split into batches or in
    which order they arrive (the invariant `stream_dedup_index`'s oracle
    pins). State layout under `state_dir`: `bands/` (id, band_idx,
    band_key — H·8 bytes per doc) and `shingles/` (id, shingle — what
    exact verification needs; a production variant may re-derive these
    from doc storage instead). Per-batch cost ∝ batch size: the index
    side of the probe is touched only on matching band keys.
    """
    import os

    from posting_lines_spark.operators import dedup

    bands_dir = os.path.join(state_dir, "bands")
    sh_dir = os.path.join(state_dir, "shingles")
    pairs_dir = os.path.join(state_dir, "pairs")

    def _maybe(path: str, schema: str) -> DataFrame:
        # empty only when the state genuinely doesn't exist yet (first
        # batch); a corrupt/unreadable EXISTING state must raise, not
        # silently produce an empty index (which would drop pairs).
        # recursiveFileLookup: state lives in per-epoch subdirs (below)
        if not os.path.isdir(path):
            return spark.createDataFrame([], schema)
        return spark.read.option("recursiveFileLookup", "true").parquet(path)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # ONE shingle pass per batch (round 16; was two): MIN aggregates
        # are duplicate-insensitive, so the MinHash signature computed
        # over the DISTINCT shingle set is identical to the non-distinct
        # stream's — the same equivalence dedup_minhash_lsh applies —
        # and the distinct set is exactly what Jaccard verification and
        # the persisted shingle state need. One explode feeds all three
        # consumers through one lazy cut (blocks are computed once under
        # the block-manager lock; the eager barrier measurably loses —
        # the geo_dbscan_core round-16 A/B). The former `b` checkpoint
        # is gone with the second pass: batch_df now has ONE consumer.
        sh_new = dedup.shingles(batch_df, "doc_id", "text").localCheckpoint(
            eager=False
        )
        sig = dedup.minhash_signature(sh_new, "doc_id", num_hashes)
        banded_new = dedup.band_signatures(
            sig, "doc_id", num_hashes, bands
        ).localCheckpoint(eager=False)
        banded_idx = _maybe(bands_dir, "doc_id long, band_idx int, band_key string")
        cand = dedup.incremental_candidate_pairs(banded_new, banded_idx, "doc_id")
        sh_all = _maybe(sh_dir, "doc_id long, shingle string").unionByName(sh_new)
        verified = dedup.jaccard_verify(cand, sh_all, "doc_id", threshold)
        # RETRY IDEMPOTENCE: foreachBatch is at-least-once — a failure
        # after some sinks committed re-runs the whole epoch. Each epoch
        # OVERWRITES its own subdir (deterministic content ⇒ a retry
        # rewrites identical rows) instead of appending to a shared dir
        # (which would double-count pairs and inflate every later
        # batch's shingle sets). This keeps the documented "every pair
        # discovered exactly once" invariant under retries.
        #
        # The three sink writes are INDEPENDENT actions (pairs, bands,
        # shingles never read each other's epoch output): submit them
        # from a small thread pool so the state writes back-fill cores
        # behind the verify join's tail (guide §2.6); job descriptions
        # are thread-local so each stays labelled.
        from concurrent.futures import ThreadPoolExecutor

        writes = (
            (verified, os.path.join(pairs_dir, f"epoch_{epoch_id}")),
            (banded_new, os.path.join(bands_dir, f"epoch_{epoch_id}")),
            (sh_new, os.path.join(sh_dir, f"epoch_{epoch_id}")),
        )
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(
                    lambda df=df, path=path: df.write.mode("overwrite").parquet(path)
                )
                for df, path in writes
            ]
            for f in futs:
                f.result()

    schema = stream_schema(spark, src_dir, checkpoint_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.option("recursiveFileLookup", "true").parquet(pairs_dir)
