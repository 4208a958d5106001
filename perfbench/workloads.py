"""The workloads: what one set-up, one timed pass and one check do.

Each is a single closed-loop client: one operation at a time, each
started after the previous one returned. Every operation is a call into
the program's public functions, timed from outside.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen

from posting_lines_spark import fixtures
from posting_lines_spark.operators import dedup, graph, pipeline
from posting_lines_spark.plans import ais
from posting_lines_spark.queries import dedup_q, load_all, pipeline_q
from posting_lines_spark.sources import load_table
from posting_lines_spark.streaming import incremental

REGISTRY = load_all()
ENRICH_PROJECT = ("segment_id, duration, geom.x1 AS x1, geom.y1 AS y1, "
                  "geom.x2 AS x2, geom.y2 AS y2, len_m, sog_kt")


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What a workload needs from the harness for one Spark session."""

    def __init__(self, spark, sf_dir: str, work: str, tracer, seed: int) -> None:
        self.spark, self.sf_dir, self.work, self.tracer, self.seed = spark, sf_dir, work, tracer, seed
        self.timings: list[tuple[str, float]] = []  # (operation, latency), timed ones
        self.errors: list[str] = []
        self.attempted = 0
        self.listener = None  # stream-progress listener of a traced run

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, body, timed: bool = True) -> None:
        """One closed-loop operation; a raised error counts as failed.
        An untimed operation is checked but adds no latency sample."""
        op = self.tracer.next_op()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op):
                body(op)
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            self.errors.append(f"{name}: {str(e).splitlines()[0][:200] if str(e) else type(e).__name__}")
        if timed:
            self.timings.append((name, time.perf_counter() - t0))

    def query(self, name: str, timed: bool = True) -> None:
        """Registry query: construction, then a parquet write of its rows."""
        def body(op: int) -> None:
            with self.tracer.span(f"queries.{name}.construct", op, group=True):
                df = REGISTRY[name].fn(self.spark, self.sf_dir)
            with self.tracer.span(f"queries.{name}.action", op, group=True):
                df.write.mode("overwrite").parquet(self.path("out", name))

        self.op(name, body, timed)


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _reset_fixtures() -> None:
    """Forget (and delete) the per-process fixtures, so the next set-up
    materializes them again."""
    for path in fixtures._CACHE.values():
        shutil.rmtree(path, ignore_errors=True)
    fixtures._CACHE.clear()


class Workload:
    """Registry queries (plus extra operations) repeated in passes."""

    name = ""
    tables: list[str] = []
    queries: list[str] = []
    warmup_query = ""
    stage_s = 0.0  # time spent staging inputs during set-up
    PASS_S: float  # nominal wall of a timed pass on a healthy 4-core host
    WARMUP_PASSES = 0  # untimed passes before the timed ones

    def setup(self, ctx: Ctx) -> None:
        _reset_fixtures()
        ctx.query(self.warmup_query)

    def run(self, ctx: Ctx, seconds: float) -> list[float]:
        """WARMUP_PASSES untimed passes, then as many timed passes as
        `seconds` holds at PASS_S each (at least one); returns the timed
        pass walls. The count depends on `seconds` alone: a count that
        followed the host's speed made `wall_s` bimodal across runs."""
        for _ in range(self.WARMUP_PASSES):
            self.one_pass(ctx, timed=False)
        walls: list[float] = []
        for _ in range(max(1, round(seconds / self.PASS_S))):
            t0 = time.perf_counter()
            with ctx.tracer.span("pass"):
                self.one_pass(ctx)
            walls.append(time.perf_counter() - t0)
        return walls

    def one_pass(self, ctx: Ctx, timed: bool = True) -> None:
        for q in self.queries:
            ctx.query(q, timed)

    def check(self, ctx: Ctx, oracles) -> dict[str, str | None]:
        """Output name -> None if it equals its oracle, else the reason."""
        return {q: oracles.compare(q, REGISTRY[q].oracle, ctx.path("out", q))
                for q in self.queries}

    def probes(self, ctx: Ctx) -> dict[str, float]:
        return {}

    def latency_summary(self) -> dict[str, float]:
        """Latency percentiles of homogeneous operations, for the report."""
        return {}

    def rows_done(self, ctx: Ctx, passes: int) -> int:
        """Input rows the timed passes read."""
        return passes * sum(gen.input_rows(ctx.sf_dir, t) for t in self.tables)


class AisBatch(Workload):
    """The reference's job on one input set. Each pass reruns it as a
    batch (enrichment, refresh, geodesy aggregate, segment producer,
    daily counts and one real day-partitioned write) and then as its
    incremental twin: one stream delta."""

    name = "ais_batch"
    tables = ["lineitem", "events"]
    queries = ["pipeline_enrich", "pipeline_refresh_stale", "geo_flagship",
               "window_segments_producer", "pipeline_daily_counts"]
    warmup_query = "pipeline_enrich"
    PASS_S = 7.0
    # the first pass after set-up ran ~40% slower than later ones (only
    # pipeline_enrich is warm after set-up) and varied more
    WARMUP_PASSES = 1

    def __init__(self) -> None:
        self.stream = StreamDeltas()

    @property
    def stage_s(self) -> float:
        return self.stream.stage_s

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        self.stream.setup(ctx)

    def run(self, ctx: Ctx, seconds: float) -> list[float]:
        self.stream.restart()
        return super().run(ctx, seconds)

    def rows_done(self, ctx: Ctx, passes: int) -> int:
        return super().rows_done(ctx, passes) + self.stream.rows_done(ctx)

    def latency_summary(self) -> dict[str, float]:
        return {"delta_p50_s": statistics.median(self.stream.delta_s),
                "deltas": len(self.stream.delta_s)}

    def write_daily(self, ctx: Ctx, timed: bool = True) -> None:
        def body(op: int) -> None:
            with ctx.tracer.span("operators.pipeline.write.construct", op, group=True):
                df = pipeline.enrich_segments(pipeline_q.segments_state_parquet(ctx.spark, ctx.sf_dir))
            with ctx.tracer.span("operators.pipeline.write.action", op, group=True):
                pipeline.write_daily_partitioned(df, ctx.path("out", "daily"))

        ctx.op("write_daily_partitioned", body, timed)

    def one_pass(self, ctx: Ctx, timed: bool = True) -> None:
        super().one_pass(ctx, timed)
        self.write_daily(ctx, timed)
        self.stream.next_delta(ctx, timed)

    def check(self, ctx: Ctx, oracles) -> dict[str, str | None]:
        return {**super().check(ctx, oracles),
                "write_daily_partitioned": oracles.compare(
                    "pipeline_enrich", pipeline_q.ENRICH_ORACLE, ctx.path("out", "daily"),
                    ENRICH_PROJECT, hive=True),
                **self.stream.check(ctx, oracles)}

    def probes(self, ctx: Ctx) -> dict[str, float]:
        """Prefix forcing: time each growing prefix of the write path and
        take differences."""
        spark, sf = ctx.spark, ctx.sf_dir
        state = lambda: pipeline_q.segments_state_parquet(spark, sf)  # noqa: E731
        with ctx.tracer.span("probes"):
            scan = _median_time(lambda: force(load_table(spark, sf, "lineitem")))
            segs = _median_time(lambda: force(ais.segments_df(spark, sf)))
            read = _median_time(lambda: force(state()))
            enrich = _median_time(lambda: force(pipeline.enrich_segments(state())))
        writes = [s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "write_daily_partitioned"]
        daily = ctx.path("out", "daily")
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(daily) for f in fs)
        return {
            "sources.scan_s": scan,
            "plans.segments_s": max(segs - scan, 0.0),
            "operators.pipeline.enrich_s": max(enrich - read, 0.0),
            "operators.pipeline.write_s": max(statistics.median(writes) - enrich, 0.0),
            "operators.pipeline.files_written": files,
            **self.stream.probes(),
        }


class NearDup(Workload):
    """Text near-dup (MinHash/LSH, incremental, sorted-neighborhood,
    SimHash), LPA communities and IVF top-k."""

    name = "near_dup"
    tables = ["documents", "embeddings", "lineitem"]
    # dedup_groups (its recursive-CTE oracle alone takes ~4 s) and
    # graph_modularity (the LPA recurrence of graph_label_propagation plus
    # one join) are left out to keep a run inside the time budget; their
    # layers are still timed by the probes below.
    queries = ["dedup_minhash_lsh", "dedup_incremental", "dedup_sorted_neighborhood",
               "dedup_simhash", "graph_label_propagation", "sim_topk_ivf"]
    warmup_query = "dedup_minhash_lsh"
    # one cold pass: a warm-up pass would add ~14 s to every run, more
    # than the run budget of two workloads allows
    PASS_S = 14.0

    def probes(self, ctx: Ctx) -> dict[str, float]:
        """Prefix forcing over the MinHash path, then components."""
        spark = ctx.spark
        load_table(spark, ctx.sf_dir, "documents").createOrReplaceTempView("documents")
        h, b, t = dedup_q.NUM_HASHES, dedup_q.BANDS, dedup_q.JACCARD_T

        def base():
            return spark.sql(dedup_q.NEAR_BASE_SPARK).repartition(spark.sparkContext.defaultParallelism)

        def sh():
            return dedup.shingles(base(), "doc_id", "text")

        def sig():
            return dedup.minhash_signature(sh(), "doc_id", h)

        def cand():
            return dedup.lsh_candidate_pairs(sig(), "doc_id", h, b, hot_width=256)

        def ver():
            return dedup.jaccard_verify(cand(), sh(), "doc_id", t)

        with ctx.tracer.span("probes"):
            t_base, t_sh, t_sig, t_cand, t_ver = (
                _median_time(lambda f=f: force(f())) for f in (base, sh, sig, cand, ver))
            t_cc = _median_time(lambda: force(graph.connected_components(ver())))
            n_cand, n_ver = cand().count(), ver().count()
        return {
            "operators.dedup.shingles_s": max(t_sh - t_base, 0.0),
            "operators.dedup.signature_s": max(t_sig - t_sh, 0.0),
            "operators.dedup.candidates_s": max(t_cand - t_sig, 0.0),
            "operators.dedup.verify_s": max(t_ver - t_cand, 0.0),
            "operators.graph.components_s": max(t_cc - t_ver, 0.0),
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": n_ver,
            "operators.dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        }


class StreamDeltas:
    """The reference's incremental rerun: DELTAS slices of the state table
    and of `events` arrive one at a time; after each arrival the enrich
    stream and the dedup stream drain it (availableNow) against fixed
    checkpoints."""

    DELTAS = 40
    RESEND_US = 30 * 60 * 10**6  # events re-sent in the next slice

    def __init__(self) -> None:
        self.stage_s = 0.0  # time spent staging slices; not set-up work
        self.enrich_s: list[float] = []
        self.dedup_s: list[float] = []
        self.delta_s: list[float] = []
        self.timed_slices: list[int] = []
        self.landed = 0  # slices already in the stream sources

    def stage(self, ctx: Ctx, state_dir: str) -> None:
        """Split the state table (seeded hash of segment id) and `events`
        (event-time ranges) into DELTAS slices. Each event appears
        twice in its own slice, and events of a slice's last 30 minutes
        are sent again with the next slice: the dedup output must still
        hold each event once. Runs once per process; like the generator,
        it prepares inputs, so set-up time leaves it out."""
        t0 = time.perf_counter()
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = self.DELTAS
        state = pq.read_table(state_dir)
        key = np.asarray(state["segment_id"]).astype(np.uint64)
        mixed = (key + np.uint64(ctx.seed)) * np.uint64(0x9E3779B97F4A7C15)
        self._write_slices(ctx, "state", state, (mixed >> np.uint64(33)) % np.uint64(n))

        events = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))
        # UTC-adjusted timestamps read as TIMESTAMP, which the dedup
        # stream's watermark needs (the source's naive ones read as NTZ)
        ts = events.schema.get_field_index("ts")
        events = events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("us", tz="UTC")))
        us = np.asarray(events["ts"]).astype("datetime64[us]").astype(np.int64)
        us = us - us.min()
        width = int(us.max()) // n + 1
        own = us // width
        resent = (us % width >= width - self.RESEND_US) & (own + 1 < n)
        idx = np.concatenate([np.arange(len(us))] * 2 + [np.flatnonzero(resent)])
        slices = np.concatenate([own, own, own[resent] + 1])
        self._write_slices(ctx, "events", events.take(idx), slices)
        self.stage_s = time.perf_counter() - t0

    @staticmethod
    def _write_slices(ctx: Ctx, table: str, data, slices) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        for k in np.unique(slices):
            d = ctx.path("stage", table, f"__slice={k}")
            os.makedirs(d)
            pq.write_table(data.take(np.flatnonzero(slices == k)), os.path.join(d, "part.parquet"))

    @staticmethod
    def slice_files(ctx: Ctx, table: str, slices) -> list[str]:
        """The staged files of `slices` (a slice with no rows has none)."""
        paths = (ctx.path("stage", table, f"__slice={k}", "part.parquet") for k in slices)
        return [p for p in paths if os.path.exists(p)]

    def append(self, ctx: Ctx, k: int) -> None:
        """Land slice `k`: hard-link its files into both stream sources."""
        for table in ("state", "events"):
            for f in self.slice_files(ctx, table, [k]):
                os.link(f, ctx.path("src", table, f"d{k:03d}.parquet"))

    def delta(self, ctx: Ctx, k: int, timed: bool = True) -> None:
        """One operation: land slice `k`, then drain both streams."""
        def body(op: int) -> None:
            t0 = time.perf_counter()
            with ctx.tracer.span("append", op):
                self.append(ctx, k)
            t1 = time.perf_counter()
            with ctx.tracer.span("streaming.enrich_call", op, group=True):
                incremental.enrich_available_now(
                    ctx.spark, ctx.path("src", "state"), ctx.path("out", "enrich"),
                    ctx.path("ckpt", "enrich"))
            t2 = time.perf_counter()
            with ctx.tracer.span("streaming.dedup_call", op, group=True):
                incremental.dedup_stream_append_parquet(
                    ctx.spark, None, ctx.path("out", "dedup"), ctx.path("ckpt", "dedup"),
                    key_cols=["event_id"], ts_col="ts", src_dir=ctx.path("src", "events"))
            if timed:
                t3 = time.perf_counter()
                self.enrich_s.append(t2 - t1)
                self.dedup_s.append(t3 - t2)
                self.delta_s.append(t3 - t0)

        ctx.op("delta", body, timed)

    def setup(self, ctx: Ctx) -> None:
        """Stage once, then empty the stream sources, outputs and
        checkpoints, so the next delta starts both streams afresh."""
        state_dir = pipeline_q.segments_state_path(ctx.spark, ctx.sf_dir)
        if not self.stage_s:
            self.stage(ctx, state_dir)
        for d in ("src", "out", "ckpt"):
            shutil.rmtree(ctx.path(d), ignore_errors=True)
        os.makedirs(ctx.path("src", "state"))
        os.makedirs(ctx.path("src", "events"))
        self.landed = 0

    def restart(self) -> None:
        """Forget the timings of earlier runs."""
        for samples in (self.enrich_s, self.dedup_s, self.delta_s, self.timed_slices):
            samples.clear()

    def next_delta(self, ctx: Ctx, timed: bool = True) -> None:
        """A delta landing the next slice."""
        k = self.landed
        if k >= self.DELTAS:
            raise RuntimeError(f"all {self.DELTAS} slices have landed; raise DELTAS")
        self.landed += 1
        if timed:
            self.timed_slices.append(k)
        self.delta(ctx, k, timed)

    def check(self, ctx: Ctx, oracles) -> dict[str, str | None]:
        """Over the slices landed so far (the first `landed` of a seeded
        split): the union of the enrich outputs equals the batch
        enrichment of exactly their segments, and the dedup output holds
        each of their events exactly once, resends included."""
        landed = range(self.landed)
        return {
            "stream_enrich_union": oracles.compare(
                "pipeline_enrich", pipeline_q.ENRICH_ORACLE, ctx.path("out", "enrich"),
                ENRICH_PROJECT,
                keep=("segment_id", self.slice_files(ctx, "state", landed))),
            "stream_dedup": oracles.compare(
                "events_distinct",
                "SELECT event_id, ts, user_id, event_type, value, props FROM events",
                ctx.path("out", "dedup"),
                keep=("event_id", self.slice_files(ctx, "events", landed))),
        }

    def probes(self) -> dict[str, float]:
        return {
            "streaming.delta_s": statistics.median(self.delta_s),
            "streaming.enrich_call_s": statistics.median(self.enrich_s),
            "streaming.dedup_call_s": statistics.median(self.dedup_s),
        }

    def rows_done(self, ctx: Ctx) -> int:
        """Rows landed by the timed deltas (state + events files)."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for table in ("state", "events")
                   for f in self.slice_files(ctx, table, self.timed_slices))


WORKLOADS = {w.name: w for w in (AisBatch, NearDup)}
