"""Round-10 regression tests.

1. ADVICE-r9 (medium): stats_icc / stats_cvm_ksamples engine-side
   integral division. Spark `div` (IntegralDivide) ALWAYS returns
   BIGINT, so the old direct `wide div n_i` quotient — and sum(BIGINT)
   over the quotients — wraps silently once values leave int64, while
   the DuckDB oracle's HUGEINT `//` stays int128-exact. Round 10
   replaced the engine's direct division with the trunc-division
   ladder (q = a·n + r; q² = a²n² + 2arn + r²; …) whose every BIGINT
   operand is int64-bounded. These tests drive BOTH formulas on
   synthetic data big enough that the direct form provably wraps, and
   assert the ladder matches an exact-Fraction Python replay while the
   direct form does not.
"""

from __future__ import annotations

import re
import shutil
from fractions import Fraction

import pytest

from tests.conftest import SF001, SF0001, row_key


def test_band_sweep_cap_ranking_equivalence(spark):
    """VERDICT-r9 item 1: a capped census must rank the 4 configs
    identically to the uncapped one (the sweep is a tuning audit).
    Force the cap to bind at sf0.01 and compare against cap=None."""
    from posting_lines_spark.queries.dedup_q import dedup_lsh_band_sweep

    exact = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, SF001, cap=None).collect()
    }
    assert all(r["capped"] == 0 for r in exact.values())
    assert all(
        r["n_candidates"] == r["n_cand_sampled"] for r in exact.values()
    )
    assert all(
        r["n_pairs_bound"] >= r["n_candidates"] for r in exact.values()
    )

    cap = max(1, min(r["n_pairs_bound"] for r in exact.values()) // 2)
    capped = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, SF001, cap=cap).collect()
    }
    assert all(r["capped"] == 1 for r in capped.values())
    # bounds are cap-independent; sampled counts respect the cap rate
    for b, r in capped.items():
        assert r["n_pairs_bound"] == exact[b]["n_pairs_bound"]
        assert r["n_cand_sampled"] <= exact[b]["n_candidates"]
        # unbiased estimate: generous 5σ binomial envelope
        n_kept = max(r["n_cand_sampled"], 1)
        rel = 5.0 / n_kept**0.5 + 0.02
        assert abs(r["n_candidates"] - exact[b]["n_candidates"]) <= max(
            rel * exact[b]["n_candidates"], 3
        )
    # THE equivalence the verdict asked for: identical config ranking
    rank_exact = sorted(exact, key=lambda b: (-exact[b]["n_candidates"], b))
    rank_capped = sorted(
        capped, key=lambda b: (-capped[b]["n_candidates"], b)
    )
    assert rank_exact == rank_capped


def test_band_sweep_cap_engine_oracle_parity(spark, duck):
    """The capped regime must hash-match across engines too: run the
    Spark query and the DuckDB oracle with the same binding cap at
    sf0.001 and compare every cell exactly."""
    from posting_lines_spark.queries.dedup_q import (
        _band_sweep_oracle,
        dedup_lsh_band_sweep,
    )

    probe = {
        r["bands"]: r
        for r in dedup_lsh_band_sweep(spark, "/root/testdata/sf0.001",
                                      cap=None).collect()
    }
    cap = max(1, min(r["n_pairs_bound"] for r in probe.values()) // 2)
    got = sorted(
        (
            tuple(r)
            for r in dedup_lsh_band_sweep(spark, SF0001, cap=cap).collect()
        ),
        key=row_key,
    )
    want = sorted(duck.execute(_band_sweep_oracle(cap=cap)).fetchall(), key=row_key)
    assert len(got) == len(want) == 4
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and gv is not None and wv is not None:
                assert gv == wv or abs(gv - wv) < 1e-15
            else:
                assert gv == wv


# ---- restart-recovery tests for the 6 remaining stateful twins
# (VERDICT-r9 item 3; attribution + interarrival set the bar: kill at a
# checkpoint boundary, resume with a BRAND-NEW query, assert output ≡
# the uninterrupted run). These drive the PRODUCTION pipelines — the
# twins take injectable src/state/ckpt dirs — not reimplementations. ----


def _slice_files(d):
    import os

    return sorted(
        (
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        ),
        key=os.path.getmtime,
    )


def _copy_in(files, dst):
    import os
    import shutil

    for f in files:
        shutil.copy2(f, os.path.join(dst, os.path.basename(f)))


def test_sessions_stateful_recovers_after_restart(spark):
    """Kill the event-time-timer sessionizer after 3 of 6 slices
    (open-session carry + timers checkpointed), resume: the appended
    closed-session set must equal the uninterrupted run's."""
    from pyspark.sql import functions as F

    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import _sess_write_slices
    from posting_lines_spark.sources import load_table
    from posting_lines_spark.streaming.stateful import sessionize_stateful

    events = load_table(spark, SF001, "events")
    full = scratch_dir("pls_sessrec_full_")
    _sess_write_slices(events)(full)
    files = _slice_files(full)
    assert len(files) == 6  # 4 slices + 2 watermark-flush sentinels

    schema = "user_id long, s_start_us long, s_end_us long, n_events long"

    def read_out(p):
        return sorted(
            tuple(r)
            for r in spark.read.schema(schema)
            .parquet(p)
            .where(F.col("user_id") >= 0)
            .collect()
        )

    src = scratch_dir("pls_sessrec_src_")
    out = scratch_dir("pls_sessrec_out_")
    ckpt = scratch_dir("pls_sessrec_ckpt_")
    _copy_in(files[:3], src)
    sessionize_stateful(spark, src, out, ckpt)
    _copy_in(files[3:], src)
    sessionize_stateful(spark, src, out, ckpt)  # new query, same ckpt

    out2 = scratch_dir("pls_sessrec_out2_")
    sessionize_stateful(spark, full, out2, scratch_dir("pls_sessrec_ck2_"))
    got, want = read_out(out), read_out(out2)
    assert got == want and len(got) > 0


def test_stateful_stats_recovers_after_restart(spark):
    """Kill the per-user running (n, max) tracker after 2 of 4 files,
    resume from the checkpoint: final per-user state must equal the
    batch aggregate (the registered twin's oracle)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.sources import load_table
    from posting_lines_spark.streaming.stateful import _track_user

    events = load_table(spark, SF001, "events").select("user_id", "value")
    full = scratch_dir("pls_statsrec_full_")
    events.repartition(4).write.mode("overwrite").parquet(full)
    files = _slice_files(full)
    assert len(files) == 4

    src = scratch_dir("pls_statsrec_src_")
    sink = scratch_dir("pls_statsrec_out_")
    ckpt = scratch_dir("pls_statsrec_ckpt_")
    schema = spark.read.parquet(full).schema

    def drain():
        out = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .groupBy("user_id")
            .applyInPandasWithState(
                _track_user,
                outputStructType="user_id long, n_events long,"
                " max_value double",
                stateStructType="n long, mx double",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _copy_in(files[:2], src)
    drain()
    _copy_in(files[2:], src)
    drain()  # new query; per-user (n, mx) reloads from the state store

    rows = spark.read.schema(
        "user_id long, n_events long, max_value double"
    ).parquet(sink)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in rows.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["mx"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_ewma_recovers_after_restart(spark):
    """The ORDER-DEPENDENT carry class: kill after 2 of 4 in-order day
    slices, resume — the resumed fold must seed from the persisted
    (ewma, n_days) carry, so the final state is bit-identical to the
    uninterrupted run's."""
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import (
        _ewma_write_slices,
        stream_ewma,
    )
    from posting_lines_spark.sources import load_table

    events = load_table(spark, SF001, "events")
    full = scratch_dir("pls_ewmarec_full_")
    _ewma_write_slices(events)(full)
    files = _slice_files(full)
    assert len(files) == 4

    src = scratch_dir("pls_ewmarec_src_")
    state = scratch_dir("pls_ewmarec_state_")
    ckpt = scratch_dir("pls_ewmarec_ckpt_")
    _copy_in(files[:2], src)
    stream_ewma(spark, SF001, src=src, state_root=state, ckpt=ckpt)
    _copy_in(files[2:], src)
    got = {
        r["event_type"]: (r["n_days"], r["ewma"])
        for r in stream_ewma(
            spark, SF001, src=src, state_root=state, ckpt=ckpt
        ).collect()
    }
    want = {
        r["event_type"]: (r["n_days"], r["ewma"])
        for r in stream_ewma(
            spark,
            SF001,
            src=full,
            state_root=scratch_dir("pls_ewmarec_st2_"),
            ckpt=scratch_dir("pls_ewmarec_ck2_"),
        ).collect()
    }
    assert got == want  # exact — same fold, same seeds, same order


def test_psi_drift_recovers_after_restart(spark):
    """Additive-partials class: kill after 2 of 4 files, resume — the
    merged (bin, n_a, n_b) partials and the PSI must equal the
    uninterrupted run's exactly."""
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import stream_psi_drift
    from posting_lines_spark.sources import load_table

    orders = load_table(spark, SF001, "orders")
    full = scratch_dir("pls_psirec_full_")
    orders.select("o_totalprice", "o_orderdate").repartition(4).write.mode(
        "overwrite"
    ).parquet(full)
    files = _slice_files(full)
    assert len(files) == 4

    src = scratch_dir("pls_psirec_src_")
    out = scratch_dir("pls_psirec_out_")
    ckpt = scratch_dir("pls_psirec_ckpt_")
    _copy_in(files[:2], src)
    stream_psi_drift(spark, SF001, src=src, out=out, ckpt=ckpt)
    _copy_in(files[2:], src)
    got = sorted(
        tuple(r)
        for r in stream_psi_drift(
            spark, SF001, src=src, out=out, ckpt=ckpt
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in stream_psi_drift(
            spark,
            SF001,
            src=full,
            out=scratch_dir("pls_psirec_out2_"),
            ckpt=scratch_dir("pls_psirec_ck2_"),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_heavy_hitters_recovers_after_restart(spark):
    """Mergeable Misra-Gries carry: kill after 2 of 4 slices, resume —
    the k-bounded carry reloads from parquet state, and the final
    exact counting pass must equal the uninterrupted run's."""
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import (
        _hh_write_slices,
        stream_heavy_hitters,
    )
    from posting_lines_spark.sources import load_table

    docs = load_table(spark, SF001, "documents")
    full = scratch_dir("pls_hhrec_full_")
    _hh_write_slices(docs)(full)
    files = _slice_files(full)
    assert len(files) == 4

    src = scratch_dir("pls_hhrec_src_")
    state = scratch_dir("pls_hhrec_state_")
    ckpt = scratch_dir("pls_hhrec_ckpt_")
    _copy_in(files[:2], src)
    stream_heavy_hitters(spark, SF001, src=src, state_root=state, ckpt=ckpt)
    _copy_in(files[2:], src)
    got = [
        tuple(r)
        for r in stream_heavy_hitters(
            spark, SF001, src=src, state_root=state, ckpt=ckpt
        ).collect()
    ]
    want = [
        tuple(r)
        for r in stream_heavy_hitters(
            spark,
            SF001,
            src=full,
            state_root=scratch_dir("pls_hhrec_st2_"),
            ckpt=scratch_dir("pls_hhrec_ck2_"),
        ).collect()
    ]
    assert got == want and len(got) > 0


def test_dedup_index_recovers_after_restart(spark):
    """Persisted MinHash band index: kill after 2 of 4 corpus chunks,
    resume — the resumed batches must probe the persisted band/shingle
    state, so the cumulative pair table equals the uninterrupted
    run's."""
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.dedup_q import (
        BANDS,
        JACCARD_T,
        NUM_HASHES,
    )
    from posting_lines_spark.queries.stream_q import _dedup_stream_src
    from posting_lines_spark.streaming.incremental import (
        minhash_index_stream,
    )

    full = _dedup_stream_src(spark, SF001)
    files = _slice_files(full)
    assert len(files) == 4

    def pairs_of(df):
        return sorted(
            (r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()
        )

    src = scratch_dir("pls_idxrec_src_")
    state = scratch_dir("pls_idxrec_state_")
    ckpt = scratch_dir("pls_idxrec_ckpt_")
    _copy_in(files[:2], src)
    minhash_index_stream(
        spark, src, state, ckpt, NUM_HASHES, BANDS, JACCARD_T
    )
    _copy_in(files[2:], src)
    got = pairs_of(
        minhash_index_stream(
            spark, src, state, ckpt, NUM_HASHES, BANDS, JACCARD_T
        )
    )
    want = pairs_of(
        minhash_index_stream(
            spark,
            full,
            scratch_dir("pls_idxrec_st2_"),
            scratch_dir("pls_idxrec_ck2_"),
            NUM_HASHES,
            BANDS,
            JACCARD_T,
        )
    )
    assert got == want and len(got) > 0


# ---- at-least-once epoch replay: Spark re-runs an epoch whose commit
# it did not record. Every foreachBatch sink must then rewrite identical
# rows, so a replayed drain's output equals the uninterrupted run's. ----


def _replay_run(spark, case):
    """(run(ckpt) -> output rows) for one stream twin over a multi-file
    sf0.001 source; every other directory stays fixed across runs."""
    from pyspark.sql import functions as F

    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries import stream_q
    from posting_lines_spark.queries.dedup_q import BANDS, JACCARD_T, NUM_HASHES
    from posting_lines_spark.queries.pipeline_q import segments_state_path
    from posting_lines_spark.sources import load_table
    from posting_lines_spark.streaming import incremental

    def rows(df):
        return [tuple(r) for r in df.collect()]

    out = scratch_dir("pls_replay_out_")
    if case == "enrich":
        src = scratch_dir("pls_replay_src_")
        spark.read.parquet(segments_state_path(spark, SF0001)).repartition(2).write.mode(
            "overwrite"
        ).parquet(src)

        def run(ckpt):
            incremental.enrich_available_now(spark, src, out, ckpt)
            return rows(
                spark.read.option("recursiveFileLookup", "true")
                .parquet(out)
                .select("segment_id", "duration", "len_m", "sog_kt")
            )

        return run
    if case == "scd":
        events = load_table(spark, SF0001, "events")
        src = scratch_dir("pls_replay_src_")
        events.select("user_id", "ts", "value", "event_id").repartition(2).write.mode(
            "overwrite"
        ).parquet(src)
        initial = events.select("user_id").distinct().select(
            "user_id",
            F.lit(0.0).alias("value"),
            F.timestamp_micros(F.lit(0)).alias("valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        )
        return lambda ckpt: rows(
            incremental.scd_upsert_available_now(
                spark, initial, None, out, ckpt, key="user_id", ts_col="ts",
                attr_cols=["value"], order_cols=["ts", "event_id"], src_dir=src,
            )
        )
    if case == "minhash":
        src = stream_q._dedup_stream_src(spark, SF0001)
        return lambda ckpt: rows(
            incremental.minhash_index_stream(
                spark, src, out, ckpt, NUM_HASHES, BANDS, JACCARD_T
            )
        )
    if case == "psi":
        return lambda ckpt: rows(stream_q.stream_psi_drift(spark, SF0001, out=out, ckpt=ckpt))
    twin = {"ewma": stream_q.stream_ewma, "heavy_hitters": stream_q.stream_heavy_hitters}[case]
    return lambda ckpt: rows(twin(spark, SF0001, state_root=out, ckpt=ckpt))


@pytest.mark.parametrize(
    "case", ["enrich", "scd", "minhash", "ewma", "psi", "heavy_hitters"]
)
def test_replayed_epoch_lands_once(spark, case):
    """Drain once, delete the last commit (and its .crc) so Spark re-runs
    that epoch, drain again: the output must equal the uninterrupted
    run's as a multiset."""
    import os

    from posting_lines_spark.fixtures import scratch_dir

    run = _replay_run(spark, case)
    ckpt = scratch_dir("pls_replay_ckpt_")
    want = sorted(run(ckpt), key=row_key)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got = sorted(run(ckpt), key=row_key)
    assert len(got) == len(want) > 0
    assert got == want


def test_missing_state_epoch_fails_loudly(spark):
    """A state epoch deleted between two drains: the next epoch has no
    previous state to fold into, and must raise naming the directory
    instead of folding its batch into empty state."""
    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.queries.stream_q import _ewma_write_slices, stream_ewma
    from posting_lines_spark.sources import load_table

    full = scratch_dir("pls_epochgap_full_")
    _ewma_write_slices(load_table(spark, SF0001, "events"))(full)
    files = _slice_files(full)
    src = scratch_dir("pls_epochgap_src_")
    state = scratch_dir("pls_epochgap_state_")
    ckpt = scratch_dir("pls_epochgap_ckpt_")
    _copy_in(files[:2], src)
    stream_ewma(spark, SF0001, src=src, state_root=state, ckpt=ckpt)
    shutil.rmtree(f"{state}/e1")
    _copy_in(files[2:], src)
    with pytest.raises(Exception, match=re.escape(f"{state}/e1")):
        stream_ewma(spark, SF0001, src=src, state_root=state, ckpt=ckpt)


def test_icc_split_survives_int64_overflow(spark):
    """1000 rows/group of ~1e8 cents: (Σy)² ≈ 1e22, direct quotient
    ≈ 1e19 > 2⁶³ wraps; the r10 ladder stays exact."""
    from posting_lines_spark.queries.analytics_q import _icc_sql

    n = 1000
    rows = []
    groups = {}
    for g in ("a", "b"):
        off = 0 if g == "a" else 7
        ys = [10**8 + 13 * i + off for i in range(n)]
        groups[g] = ys
        rows += [(g, y / 100.0) for y in ys]
    spark.createDataFrame(rows, "user_id string, value double") \
        .createOrReplaceTempView("events")

    # replay: exact integers to the engine's wide-int boundary, then
    # the same fixed double chain (at these magnitudes syy−s2 is a
    # genuine double cancellation both sides share — mirror it, don't
    # average it away with Fractions)
    G, N = len(groups), sum(len(v) for v in groups.values())
    syy = float(sum(y * y for v in groups.values() for y in v))
    sy = sum(y for v in groups.values() for y in v)
    s2 = float(sum(sum(v) ** 2 // len(v) for v in groups.values())) + sum(
        (sum(v) ** 2 % len(v)) / len(v) for v in groups.values()
    )
    sum_ni_sq = float(sum(len(v) ** 2 for v in groups.values()))
    msw = (syy - s2) / (N - G)
    msb = (s2 - float(sy) * float(sy) / N) / (G - 1)
    k0 = (N - sum_ni_sq / N) / (G - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)

    got = spark.sql(_icc_sql("div", "DECIMAL(19,0)", split=True)).collect()[0]
    assert (got["n_groups"], got["n_tot"]) == (G, N)
    assert abs(got["icc1"] - icc) < 1e-9

    # the pre-r10 direct form dies at this magnitude: ArithmeticException
    # under ANSI (Spark 4 default), silent wrap/null with ANSI off
    try:
        old = spark.sql(
            _icc_sql("div", "DECIMAL(19,0)", split=False)
        ).collect()[0]
        assert old["icc1"] is None or abs(old["icc1"] - icc) > 1e-6
    except Exception:
        pass  # ANSI overflow error — the failure mode the ladder removes


def test_cvm_split_survives_int64_overflow(spark):
    """2M pooled rows over a 100-value domain: l·Q²/nᵢ quotients reach
    ~1e22 ≫ 2⁶³; the r10 ladder matches the exact-Fraction replay,
    the direct form does not."""
    from posting_lines_spark.queries.analytics_q import _cvm_sql

    n_rows = 2_000_000
    spark.range(n_rows).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type",
        "CAST((id * 37) % 100 AS DOUBLE) / 100e0 AS value",
    ).createOrReplaceTempView("events")

    # count-based exact replay: cents c = (id*37) % 100, group = id % 2
    counts = {}  # (group, cents) -> count
    for rid in range(200):  # pattern repeats with period 200
        g, c = rid % 2, (rid * 37) % 100
        counts[(g, c)] = counts.get((g, c), 0) + n_rows // 200
    pooled = sorted({c for _, c in counts})
    n_i = {g: sum(v for (gg, _), v in counts.items() if gg == g)
           for g in (0, 1)}
    N = sum(n_i.values())
    t = Fraction(0)
    cum_all = 0
    cum_g = {0: 0, 1: 0}
    for z in pooled:
        lz = counts.get((0, z), 0) + counts.get((1, z), 0)
        cum_all += lz
        for g in (0, 1):
            cum_g[g] += counts.get((g, z), 0)
            q = N * cum_g[g] - n_i[g] * cum_all
            t += Fraction(lz * q * q, n_i[g])
    expect = float(t / N**3)

    got = spark.sql(_cvm_sql("div", "DECIMAL(19,0)", split=True)).collect()[0]
    assert (got["n"], got["k"]) == (N, 2)
    assert abs(got["cvm_t"] - expect) < 1e-9 * max(1.0, expect)

    try:
        old = spark.sql(
            _cvm_sql("div", "DECIMAL(19,0)", split=False)
        ).collect()[0]
        assert old["cvm_t"] is None or \
            abs(old["cvm_t"] - expect) > 1e-6 * max(1.0, expect)
    except Exception:
        pass  # ANSI overflow error — the failure mode the ladder removes


def test_video_scenecut_matches_python(spark):
    """Replay the whole video lane in Python: md5 fake 4×4-luma
    frames, consecutive-frame SADs, cut threshold, shot runs — per-doc
    stats must be equal (the parity-blindness discipline: the oracle
    shares the SQL text, so only an independent replay proves the
    statistic itself)."""
    import hashlib

    import pyarrow.parquet as pq

    from posting_lines_spark.operators.multimodal import VIDEO_NF_MOD
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.stream_q import VIDEO_CUT_THRESH
    from tests.conftest import SF0001

    doc_ids = pq.read_table(
        SF0001 + "/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()
    want = {}
    for doc_id in doc_ids:
        nf = 2 + doc_id % VIDEO_NF_MOD
        frames = [
            hashlib.md5(f"{doc_id}:{f}:vid".encode()).digest()
            for f in range(nf)
        ]
        sads = [
            sum(abs(a - b) for a, b in zip(frames[f], frames[f - 1]))
            for f in range(1, nf)
        ]
        cuts = [s > VIDEO_CUT_THRESH for s in sads]
        shot_lens, cur = [], 1
        for c in cuts:
            if c:
                shot_lens.append(cur)
                cur = 1
            else:
                cur += 1
        shot_lens.append(cur)
        want[doc_id] = (
            nf,
            sum(cuts),
            sum(cuts) + 1,
            max(shot_lens),
            max(sads),
        )
    got = {
        r["doc_id"]: (
            r["n_frames"],
            r["n_cuts"],
            r["n_shots"],
            r["max_shot_len"],
            r["max_sad"],
        )
        for r in load_all()["multimodal_video_scenecut"]
        .fn(spark, SF0001)
        .collect()
    }
    assert got == want
    # non-vacuous: the threshold actually splits — some docs have cuts
    assert any(v[1] > 0 for v in want.values())
    assert any(v[1] == 0 for v in want.values())


def test_semdedup_class_collapse_equals_pairwise(spark):
    """The r10 embedding-class collapse must reproduce the pairwise
    drop rule exactly: run both formulations in Spark at sf0.01 and
    compare every row."""
    from posting_lines_spark.functions.hashing import md5_int_spark
    from posting_lines_spark.operators.similarity import cosine_spark
    from posting_lines_spark.queries.vectors_q import (
        _KM_LONG_SPARK,
        _semdedup_sql,
    )
    from posting_lines_spark.sources import load_table

    load_table(spark, SF001, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    h = md5_int_spark("CAST(vec_id AS STRING)", salt="kmeans")

    def run(collapse):
        return sorted(
            tuple(r)
            for r in spark.sql(
                _semdedup_sql(
                    _KM_LONG_SPARK,
                    h,
                    lambda a, b: cosine_spark(a, b),
                    collapse=collapse,
                )
            ).collect()
        )

    got, want = run(True), run(False)
    assert got == want and len(got) > 0
    # non-vacuous: some cluster actually drops members
    assert any(r[2] > 0 for r in got)


# ---- wave-19 replay tests (the parity-blindness discipline: engine
# and oracle share SQL text, so only independent Python re-derivations
# prove the statistics themselves) ----


def _mw_groups(rows):
    from posting_lines_spark.queries.analytics_q import _MW_A, _MW_B

    a = sorted(r["cents"] for r in rows if r["event_type"] == _MW_A)
    b = sorted(r["cents"] for r in rows if r["event_type"] == _MW_B)
    return a, b


def test_ansari_bradley_matches_python(spark):
    """Replay W, the finite-population null moments, and z from first
    principles with exact Fractions."""
    from fractions import Fraction

    from tests.test_round9 import _events_rows
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    a, b = _mw_groups(_events_rows())
    pooled = sorted([(v, 1) for v in a] + [(v, 0) for v in b])
    N = len(pooled)
    # mid-scores per tied block of the symmetric scores min(i, N+1-i)
    scores = {}
    i = 0
    while i < N:
        j = i
        while j < N and pooled[j][0] == pooled[i][0]:
            j += 1
        block = [min(k + 1, N - k) for k in range(i, j)]
        scores[pooled[i][0]] = Fraction(sum(block), len(block))
        i = j
    w = sum(scores[v] for v in a)
    s_tot = sum(scores[pooled[k][0]] for k in range(N))
    q = sum(scores[pooled[k][0]] ** 2 for k in range(N))
    n1, n2 = len(a), len(b)
    e_w = Fraction(n1, N) * s_tot
    var_w = Fraction(n1 * n2, N - 1) * (q / N - (s_tot / N) ** 2)
    z = float(w - e_w) / float(var_w) ** 0.5
    got = load_all()["stats_ansari_bradley"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert abs(got["w_ab"] - float(w)) < 1e-6
    assert abs(got["e_w"] - float(e_w)) < 1e-6
    assert abs(got["var_w"] - float(var_w)) < 1e-6 * float(var_w)
    assert abs(got["z_stat"] - z) < 1e-9 * max(1.0, abs(z))


def test_goodman_kruskal_gamma_matches_python(spark):
    from tests.test_round9 import _events_rows
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    grid = {}
    for r in _events_rows():
        x = (r["ts_us"] % 86_400_000_000) // 3_600_000_000
        y = min(r["cents"] // 2000, 9)
        grid[(x, y)] = grid.get((x, y), 0) + 1
    cells = list(grid.items())
    c = d = 0
    for (x1, y1), n1 in cells:
        for (x2, y2), n2 in cells:
            if x2 > x1 and y2 > y1:
                c += n1 * n2
            elif x2 > x1 and y2 < y1:
                d += n1 * n2
    got = load_all()["stats_goodman_kruskal_gamma"].fn(
        spark, SF0001
    ).collect()[0]
    assert got["n_rows"] == sum(grid.values())
    assert got["c_pairs"] == float(c)
    assert got["d_pairs"] == float(d)
    assert abs(got["gamma"] - (c - d) / (c + d)) < 1e-12


def test_cliffs_delta_matches_python(spark):
    """Replay gt/lt/tie counts and assert the documented U1 identity
    against the registered Mann-Whitney machinery."""
    from tests.test_round9 import _events_rows
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    a, b = _mw_groups(_events_rows())
    import bisect

    gt = lt = tie = 0
    for v in a:
        lo = bisect.bisect_left(b, v)
        hi = bisect.bisect_right(b, v)
        gt += lo
        lt += len(b) - hi
        tie += hi - lo
    got = load_all()["stats_cliffs_delta"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (len(a), len(b))
    assert got["n_gt"] == float(gt)
    assert got["n_lt"] == float(lt)
    assert got["n_tie"] == float(tie)
    delta = (gt - lt) / (len(a) * len(b))
    assert abs(got["delta"] - delta) < 1e-15
    # U1 identity vs the registered Mann-Whitney
    mw = load_all()["stats_mann_whitney"].fn(spark, SF0001).collect()[0]
    assert abs(mw["u1"] - (gt + tie / 2.0)) < 1e-6
