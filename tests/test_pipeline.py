"""Golden pipeline tests: v1 semantics, idempotence, merge equivalence
(SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from posting_lines_spark.operators import pipeline
from tests.conftest import SF0001

_state_path = {}


def _state(spark):
    """Parquet-backed pipeline state: materialized once per session — the
    realistic shape (state arrives from storage, not as a live expression
    tree) and the plan-size guidance from operators/pipeline.py."""
    from posting_lines_spark.queries.pipeline_q import segments_state_df

    if "p" not in _state_path:
        import tempfile

        path = tempfile.mkdtemp(prefix="pls_state_")
        segments_state_df(spark, SF0001).write.mode("overwrite").parquet(path)
        _state_path["p"] = path
    return spark.read.parquet(_state_path["p"])


def test_enrich_fills_every_surviving_row(spark):
    out = pipeline.enrich_segments(_state(spark))
    assert out.filter("duration = 0").count() == 0
    assert out.filter("geom IS NULL OR len_m IS NULL OR sog_kt IS NULL").count() == 0


def test_enrich_keeps_columns_and_order(spark):
    """The merged values take the place of len_m/sog_kt/geom: same column
    names in the same order as the input, and geom is a non-null struct."""
    state = _state(spark)
    out = pipeline.enrich_segments(state)
    assert out.columns == state.columns
    geom = out.schema["geom"]
    assert not geom.nullable
    assert [f.name for f in geom.dataType.fields] == ["srid", "x1", "y1", "x2", "y2"]


def test_geom_is_null_on_enriched_output_folds_to_empty(spark):
    """The plan-size guard (operators/pipeline.py): `geom IS NULL` over the
    enrichment folds to an empty relation, so no kernel expression is
    pushed into a predicate."""
    plan = (
        pipeline.enrich_segments(_state(spark))
        .filter("geom IS NULL")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.lstrip().startswith("LocalRelation <empty>"), plan
    assert "sqrt" not in plan and "CASE WHEN" not in plan, plan


def test_enrich_preserves_processed_rows(spark):
    # segment_id carries duplicates by design (plans/ais.py), so compare
    # the preserved rows as multisets rather than joining on the key.
    state = _state(spark).cache()
    out = pipeline.enrich_segments(state)
    pre = state.filter("geom IS NOT NULL AND duration != 0").select("segment_id", "len_m", "sog_kt")
    post = out.filter("NOT needs_geom").select("segment_id", "len_m", "sog_kt")
    assert pre.exceptAll(post).count() == 0
    assert post.exceptAll(pre).count() == 0
    state.unpersist()


def test_enrich_idempotent(spark):
    once = pipeline.enrich_segments(_state(spark)).cache()
    twice = pipeline.enrich_segments(once)
    # second run is a no-op: the geom IS NULL contract (sql_to_line.py:41)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    once.unpersist()


def test_detect_after_enrich_is_empty(spark):
    out = pipeline.enrich_segments(_state(spark))
    assert pipeline.detect_unprocessed(out).count() == 0


def test_merge_update_semantics(spark):
    main = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")], "k long, v double, tag string"
    )
    upd = spark.createDataFrame([(1, 99.0), (3, None)], "k long, v double")
    out = pipeline.merge_update(main, upd, "k", ["v"], broadcast_updates=True)
    got = {r.k: (r.v, r.tag) for r in out.collect()}
    # matched rows take the update value EVEN IF NULL (UPDATE..FROM parity)
    assert got == {1: (99.0, "a"), 2: (20.0, "b"), 3: (None, "c")}


def test_merge_update_matches_single_pass_enrich(spark):
    # merge_update is a keyed operator: give it a unique-key view of the
    # state (segment_id carries duplicates in the raw derivation).
    state = _state(spark).dropDuplicates(["segment_id"]).cache()
    single = pipeline.enrich_segments(state)
    # two-phase variant (the reference's staging shape): enrich only the
    # todo rows, then update-join them back (S1:151-234)
    todo = state.filter("duration != 0 AND geom IS NULL")
    enriched = pipeline.enrich_segments(todo)
    merged = pipeline.merge_update(
        pipeline.clean_zero_duration(state),
        enriched.select("segment_id", "geom", "len_m", "sog_kt"),
        "segment_id",
        ["geom", "len_m", "sog_kt"],
    )
    cols = ["segment_id", "len_m", "sog_kt"]
    assert single.select(cols).exceptAll(merged.select(cols)).count() == 0
    assert merged.select(cols).exceptAll(single.select(cols)).count() == 0
    state.unpersist()


def test_write_daily_partitioned_idempotent(spark, tmp_path):
    # one quarter's worth of days — enough to exercise dynamic partition
    # overwrite without creating ~2500 day directories twice
    out = pipeline.enrich_segments(_state(spark)).filter(
        "start_time >= TIMESTAMP '1996-01-01 00:00:00' AND start_time < TIMESTAMP '1996-04-01 00:00:00'"
    )
    path = str(tmp_path / "segments_out")
    pipeline.write_daily_partitioned(out, path)
    n1 = spark.read.parquet(path).count()
    pipeline.write_daily_partitioned(out, path)  # re-run: dynamic overwrite
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == out.count()


def test_stream_enrich_processes_only_delta(spark, tmp_path):
    """The availableNow + checkpoint contract IS the reference's
    incrementality (geom IS NULL rerun, sql_to_line.py:38-41): a second
    run with the same checkpoint must process only newly-arrived files."""
    from posting_lines_spark.streaming import incremental

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    state = _state(spark)
    first = state.filter("uid % 2 = 0")
    second = state.filter("uid % 2 = 1")
    first.write.mode("overwrite").parquet(src)
    incremental.enrich_available_now(spark, src, out, ckpt)
    # one directory per epoch under `out`
    n1 = spark.read.option("recursiveFileLookup", "true").parquet(out).count()
    assert n1 == first.filter("duration != 0").count()
    # new files arrive; same checkpoint → only the delta is enriched
    second.write.mode("append").parquet(src)
    incremental.enrich_available_now(spark, src, out, ckpt)
    n2 = spark.read.option("recursiveFileLookup", "true").parquet(out).count()
    assert n2 == n1 + second.filter("duration != 0").count()


def test_stream_dedup_deltas_emit_each_event_once_in_one_batch_each(spark, tmp_path):
    """Two deltas whose second re-sends part of the first: the dedup stream
    emits every event once, and runs ONE micro-batch per delta. Its key
    (event_id) holds no event-time column, so no state is ever evicted
    and a no-data batch after each delta would do nothing; every
    micro-batch writes one file to the checkpoint's commit log."""
    import os

    from posting_lines_spark.streaming import incremental

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def land(lo: int, hi: int, times: int) -> None:
        rows = [(i, i * 60, i % 7) for i in range(lo, hi) for _ in range(times)]
        spark.createDataFrame(rows, "event_id long, sec long, user_id long").selectExpr(
            "event_id", "timestamp_seconds(1700000000 + sec) AS ts", "user_id"
        ).coalesce(1).write.mode("append").parquet(src)

    def delta() -> list:
        res = incremental.dedup_stream_append_parquet(
            spark, None, out, ckpt, key_cols=["event_id"], ts_col="ts",
            src_dir=src,
        )
        return [r.event_id for r in res.collect()]

    land(0, 50, 2)  # every event twice
    assert sorted(delta()) == list(range(50))
    land(40, 100, 1)  # 40..49 re-sent from the first delta
    assert sorted(delta()) == list(range(100))
    commits = [f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
    assert len(commits) == 2


def test_observe_enrich_reports_engine_side_metrics(spark):
    from posting_lines_spark.operators.pipeline import observe_enrich

    segments_raw = _state(spark)
    out, obs = observe_enrich(segments_raw)
    n_out = out.count()  # the action that materializes the metrics
    m = obs.get
    assert m["rows_in"] == n_out  # clean() applied before observe
    expected_todo = (
        segments_raw.filter("duration != 0").filter("geom IS NULL").count()
    )
    assert m["rows_to_enrich"] == expected_todo
    assert out.filter("geom IS NULL").count() == 0


# --- Q5 extension: refresh_stale (round 14, VERDICT r13 item 5) ---


def _state_with_change(spark):
    return _state(spark).withColumn("last_change", F.col("start_time"))


def test_refresh_stale_recomputes_changed_rows(spark):
    """Rows with last_change > since refresh EVEN IF geom is non-null —
    exactly the population v1's quirk Q5 leaves stale forever. The
    fixture's preserved values are quantized (floor(x*1000)/1000), so a
    refreshed row is observable: its len_m regains full precision."""
    since = "1995-06-17"
    state = _state_with_change(spark).cache()
    out = pipeline.refresh_stale(state, since).cache()

    # the stale population is non-trivial on the fixture
    stale = state.filter(
        f"geom IS NOT NULL AND last_change > DATE '{since}' AND duration != 0"
    )
    n_stale = stale.count()
    assert n_stale > 0

    # v1 enrich leaves every stale row's quantized value in place;
    # refresh_stale recomputes it (full precision != quantized except on
    # the measure-zero grid points — assert the populations differ)
    v1 = pipeline.enrich_segments(state)
    joined = (
        out.filter(f"NOT needs_geom AND last_change > DATE '{since}'")
        .select("segment_id", "start_time", F.col("len_m").alias("len_new"))
        .join(
            v1.filter(f"NOT needs_geom AND last_change > DATE '{since}'")
            .select("segment_id", "start_time", F.col("len_m").alias("len_old")),
            ["segment_id", "start_time"],
        )
    )
    n_changed = joined.filter("len_new != len_old").count()
    assert n_changed > 0, "refresh must actually recompute stale rows"

    # rows at or before the watermark stay exactly as v1 leaves them
    kept_cols = ["segment_id", "start_time", "len_m", "sog_kt"]
    kept_new = out.filter(f"last_change <= DATE '{since}'").select(kept_cols)
    kept_old = v1.filter(f"start_time <= DATE '{since}'").select(kept_cols)
    assert kept_new.exceptAll(kept_old).count() == 0
    assert kept_old.exceptAll(kept_new).count() == 0
    out.unpersist()
    state.unpersist()


def test_refresh_stale_idempotent(spark):
    """The §5.2 idempotence contract extended to the refresh path: at a
    fixed watermark a second refresh recomputes the same rows to the
    same values — output is a fixed point."""
    since = "1995-06-17"
    once = pipeline.refresh_stale(_state_with_change(spark), since).cache()
    twice = pipeline.refresh_stale(once, since)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    once.unpersist()


def test_refresh_stale_with_null_geom_matches_enrich_when_nothing_stale(spark):
    """With `since` past every last_change, refresh_stale degenerates to
    exactly enrich_segments (the v1 parity path)."""
    state = _state_with_change(spark).cache()
    ref = pipeline.refresh_stale(state, "2999-01-01").drop("last_change")
    v1 = pipeline.enrich_segments(state).drop("last_change")
    assert ref.exceptAll(v1).count() == 0
    assert v1.exceptAll(ref).count() == 0
    state.unpersist()
