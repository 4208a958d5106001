"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.8 extension surface; the "custom stateful operators" entry
of the pyspark guide).

The operator keeps (n_events, max_value) per user across micro-batches
and emits the running totals each batch. Driven with availableNow +
maxFilesPerTrigger=1 so a bounded parquet directory exercises REAL
multi-batch state handoff (one batch per file), then the final state is
compared against the plain batch aggregate — state plumbing proven
end-to-end without an unbounded source.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from posting_lines_spark.streaming.harness import drain


def _track_user(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, mx = state.get if state.exists else (0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, mx))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "max_value": [mx]})


def running_user_stats(
    spark: SparkSession, events: DataFrame, n_files: int = 4
) -> DataFrame:
    """Run the stateful tracker over `events` split into `n_files` files →
    n_files micro-batches. Returns the LAST emitted row per user (= final
    state). Update-mode memory sink keeps the latest row per key batch."""
    from posting_lines_spark.fixtures import scratch_dir

    src = scratch_dir(prefix="pls_state_src_")
    events.repartition(n_files).write.mode("overwrite").parquet(src)
    name = f"user_stats_{abs(hash(src)) % 10**8}"
    drain(
        spark, src, None,
        lambda r: r.option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(
            _track_user,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name),
    )
    # update-mode memory sink appends each batch's emissions; the final
    # state per user is the row with the max n_events
    latest = spark.table(name)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        latest.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


# --- session windows with event-time timeout ---

SESSION_GAP_US = 1_800_000_000  # 30 min — same rule as window_sessionize
SESSION_GAP_MS = SESSION_GAP_US // 1000


def _session_update(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user session tracker: fold the batch's events (sorted by event
    time — deterministic regardless of file row order) into the open
    session carried in state; emit sessions CLOSED by an in-batch gap
    immediately, and leave the open tail in state with an event-time
    timer at last_ts + gap. When the watermark passes the timer, the
    timeout branch emits the final session exactly once and clears
    state."""
    (user_id,) = key
    if state.hasTimedOut:
        s0, s1, n = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [user_id], "s_start_us": [s0], "s_end_us": [s1],
             "n_events": [n]}
        )
        return
    cur = tuple(state.get) if state.exists else None
    ts_all: list[int] = []
    for pdf in pdfs:
        ts_all.extend(int(t) for t in pdf["ts_us"])
    ts_all.sort()
    closed: list[tuple[int, int, int]] = []
    for t in ts_all:
        if cur is None:
            cur = (t, t, 1)
        elif t - cur[1] > SESSION_GAP_US:
            closed.append(cur)
            cur = (t, t, 1)
        else:
            cur = (cur[0], t, cur[2] + 1)
    state.update(cur)
    # a session whose gap already elapsed must still fire via timer —
    # but a timer at-or-behind the watermark is rejected, so clamp to
    # wm+1 (it then fires on the next trigger)
    state.setTimeoutTimestamp(
        max(cur[1] // 1000 + SESSION_GAP_MS, state.getCurrentWatermarkMs() + 1)
    )
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "s_start_us": [c[0] for c in closed],
                "s_end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


def sessionize_stateful(
    spark: SparkSession, src: str, out: str, ckpt: str
):
    """Drive the session-window stateful stream over the sliced parquet
    source dir `src` (last two slices must be the far-future flush
    sentinels that advance the watermark and fire the remaining
    timers). Appends closed sessions to parquet `out`. Returns the
    query progress list."""
    from pyspark.sql import functions as F

    q = drain(
        spark, src, ckpt,
        lambda r: r.option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts_us", F.expr("unix_micros(ts)"))
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_update,
            outputStructType="user_id long, s_start_us long, s_end_us long,"
            " n_events long",
            stateStructType="s0 long, s1 long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .writeStream.format("parquet")
        .option("path", out),
    )
    return list(q.recentProgress)


# --- inter-arrival moment tracker (mergeable 128-bit state) ---

_LANE = 1 << 62  # Σg² exceeds int64 (one year-scale gap squared ≈ 1e27),
# so the state carries it as two int64 lanes hi·2^62 + lo — the packed-
# counter discipline (operators/dedup.py simhash lanes) applied to
# state-store columns, which applyInPandasWithState types as fixed
# int64s.


def _track_gaps(key, pdfs, state: GroupState) -> "Iterator[pd.DataFrame]":
    """Per-(user, type) inter-arrival tracker: fold each micro-batch's
    time-sorted events into (last_ts, n, Σg, Σg²-hi, Σg²-lo) state;
    emit the running totals (update mode — the final row per key is
    the answer). Slices are time-disjoint, so the boundary gap between
    batches is last_ts → first event of the new batch."""
    user_id, event_type = key
    if state.exists:
        last, n, sg, hi, lo = state.get
    else:
        last, n, sg, hi, lo = None, 0, 0, 0, 0
    sgg = hi * _LANE + lo
    # Buffer the WHOLE group before sorting: a group's rows within one
    # micro-batch can span multiple Arrow record batches (default
    # maxRecordsPerBatch=10000), and slice files are written unsorted —
    # sorting each chunk independently would fold gaps between
    # misordered neighbors (the _session_update discipline).
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for t in pdf["ts_us"].astype("int64"):
            t = int(t)
            if last is not None:
                g = t - last
                n += 1
                sg += g
                sgg += g * g
            last = t
    hi, lo = divmod(sgg, _LANE)
    state.update((last, n, sg, hi, lo))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "event_type": [event_type],
            "n": [n],
            "sg": [sg],
            "sgg_hi": [hi],
            "sgg_lo": [lo],
        }
    )


def interarrival_stateful(spark: SparkSession, src: str) -> DataFrame:
    """Drive the gap tracker over the time-sliced parquet dir and
    return the FINAL per-key moment partials."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    name = f"gap_moments_{abs(hash(src)) % 10**8}"
    drain(
        spark, src, None,
        lambda r: r.option("maxFilesPerTrigger", 1)
        .parquet(src)
        .where(F.col("user_id") >= 0)  # drop the watermark flush sentinels
        .withColumn("ts_us", F.expr("unix_micros(ts)"))
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _track_gaps,
            outputStructType="user_id long, event_type string, n long,"
            " sg long, sgg_hi long, sgg_lo long",
            stateStructType="last_ts long, n long, sg long, sgg_hi long,"
            " sgg_lo long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name),
    )
    latest = spark.table(name)
    w = W.partitionBy("user_id", "event_type").orderBy(F.col("n").desc())
    return (
        latest.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
