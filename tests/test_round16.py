"""Round-16 optimization-round tests: changed operator internals only
(no new features) — stream-partition env validation and the one
lineage cut (`operators/cuts.py`)."""

import pytest

from posting_lines_spark.streaming.tuning import stream_partitions


def test_stream_shuffle_env_honored(monkeypatch):
    # the env path returns before the session conf is read
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "24")
    assert stream_partitions(None, "/nonexistent") == 24


@pytest.mark.parametrize("bad", ["abc", "1.5", ""])
def test_stream_shuffle_env_malformed_raises(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", bad)
    if bad == "":
        # empty env var means "unset" (falsy) — falls through to sizing,
        # which needs a session; just assert it doesn't take the env path
        # by checking it raises the AttributeError of the None session,
        # not a ValueError about the variable.
        with pytest.raises(AttributeError):
            stream_partitions(None, "/nonexistent")
    else:
        with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_SHUFFLE"):
            stream_partitions(None, "/nonexistent")


@pytest.mark.parametrize("bad", ["0", "-4"])
def test_stream_shuffle_env_nonpositive_rejected(monkeypatch, bad):
    # round-15 behavior silently clamped these to 1; they now fail loudly
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", bad)
    with pytest.raises(ValueError, match="positive"):
        stream_partitions(None, "/nonexistent")


@pytest.mark.parametrize("mode", ["lazy", "eager", "durable"])
def test_cut_is_lazy_or_eager_and_truncates(spark, mode):
    """`cut` must cut lineage (LogicalRDD), materialize only when asked
    to (`eager`, implied by `durable`), store a local cut serialized and
    spillable, write a durable cut under the session's checkpoint dir,
    and preserve rows exactly."""
    from posting_lines_spark.operators.cuts import cut

    df = spark.range(100).selectExpr("id AS u", "id % 7 AS v")
    out = cut(df, eager=mode == "eager", durable=mode == "durable")
    plan = out._jdf.queryExecution().analyzed()
    assert "LogicalRDD" in plan.toString()
    rdd = plan.rdd()
    assert rdd.isCheckpointed() == (mode != "lazy")
    if mode == "durable":
        ckpt_dir = spark.sparkContext.getCheckpointDir()
        assert rdd.getCheckpointFile().get().startswith(ckpt_dir + "/")
    else:
        level = rdd.getStorageLevel()
        assert level.useMemory() and level.useDisk() and not level.deserialized()
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )
    assert rdd.isCheckpointed()
