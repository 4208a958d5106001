"""Adversarial degenerate-group fixtures for the nullif guards in
analytics_q (round-3 verdict #5): the seeded testdata never produces a
zero-variance, constant-x, or MAD=0 group, so the guards added for the
round-2 advice (divide-by-zero divergence) were unreachable by the
oracle harness. These fixtures reach them and assert BOTH engines return
the same NULLs — the test that would have caught the pre-fix
engine-divergence (NaN/Inf on one side, error or NULL on the other)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest

from posting_lines_spark.queries.analytics_q import (
    _mad_sql,
    _moments_sql,
    _regression_sql,
)

from tests.conftest import row_key

T0 = datetime(2024, 1, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def degenerate_events(spark):
    """Three adversarial groups:
    - 'const'  : constant value, varying ts → zero variance (skew/kurt
                 denominators 0; regression syy-term 0 → r² NULL)
    - 'constx' : all rows share one ts (constant x) → slope/intercept/r²
                 denominators 0
    - 'madzero': >half the rows share the median value → MAD = 0, with
                 outliers that the >6·MAD cut still selects (ratio NULL)
    """
    rows = []
    eid = 0
    for i in range(8):
        rows.append(("const", eid, T0 + timedelta(minutes=i), 5.0))
        eid += 1
    for i in range(8):
        rows.append(("constx", eid, T0, float(i + 1)))
        eid += 1
    for i in range(6):
        rows.append(("madzero", eid, T0 + timedelta(minutes=i), 10.0))
        eid += 1
    for v in (90.0, 95.0):
        rows.append(("madzero", eid, T0 + timedelta(hours=1), v))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["event_type", "event_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    yield pdf
    spark.catalog.dropTempView("events")


def _duck(pdf: pd.DataFrame, sql: str):
    import duckdb

    con = duckdb.connect()
    con.register("events", pdf)
    try:
        return sorted(con.execute(sql).fetchall(), key=row_key)
    finally:
        con.close()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=row_key)


def test_moments_zero_variance_group_null_on_both_engines(
    spark, degenerate_events
):
    got = _rows(
        spark.sql(_moments_sql("CAST(round(value * 1.0e2) AS DECIMAL(38,0))"))
    )
    want = _duck(
        degenerate_events, _moments_sql("CAST(round(value * 1.0e2) AS HUGEINT)")
    )
    assert got == want
    const = next(r for r in got if r[0] == "const")
    # (event_type, n, mean, std, skew, kurt): zero variance → std 0.0,
    # skew/kurt NULL — not NaN, not Inf, not an error
    assert const[2] == 5.0 and const[3] == 0.0
    assert const[4] is None and const[5] is None


def test_regression_constant_x_and_constant_y_null_on_both_engines(
    spark, degenerate_events
):
    got = _rows(
        spark.sql(_regression_sql("unix_micros(ts)", "div", "DECIMAL(38,0)"))
    )
    want = _duck(
        degenerate_events, _regression_sql("epoch_us(ts)", "//", "HUGEINT")
    )
    assert got == want
    by_type = {r[0]: r for r in got}
    # constant x: slope/intercept/r² all NULL (x-variance denominator 0)
    assert by_type["constx"][2] is None
    assert by_type["constx"][3] is None
    assert by_type["constx"][4] is None
    # constant y: slope 0, r² NULL (y-variance factor 0 in denominator)
    assert by_type["const"][2] == 0.0
    assert by_type["const"][4] is None


def test_mad_zero_group_flags_outliers_with_null_ratio_on_both_engines(
    spark, degenerate_events
):
    got = _rows(
        spark.sql(_mad_sql("CAST(round(value * 1.0e2) AS BIGINT)", "percentile"))
    )
    want = _duck(
        degenerate_events,
        _mad_sql("CAST(round(value * 1.0e2) AS BIGINT)", "quantile_cont"),
    )
    assert got == want
    madzero = [r for r in got if r[0] == "madzero"]
    # MAD = 0: the two outliers still trip the >6·MAD cut; the ratio is
    # NULL (nullif guard), never Inf/NaN
    assert {r[2] for r in madzero} == {90.0, 95.0}
    assert all(r[4] == 0.0 and r[5] is None for r in madzero)


class TestDeterministicLn:
    def test_dln_python_mirror_accuracy(self):
        """The integer-ln kernel's Python mirror is ≤ 2 ulp of math.log
        across digit-count and anchor boundaries."""
        import math

        from posting_lines_spark.functions.dmath import dln_int_py

        vals = (
            list(range(1, 3000))
            + [10**k + d for k in range(3, 15) for d in (-1, 0, 1)]
            + [2**52, 999999937]
        )
        for n in vals:
            got, want = dln_int_py(n), math.log(n)
            if n == 1:
                assert got == 0.0
            else:
                assert abs(got - want) <= 2 * abs(want) * 2.3e-16, (n, got, want)

    def test_dln_spark_duckdb_bit_parity(self, spark):
        """Both engines evaluate the staged kernel bit-identically —
        the property the text_lm_score oracle depends on."""
        import duckdb

        from posting_lines_spark.functions.dmath import dln_int_py, dln_int_stages

        vals = list(range(1, 500)) + [10**k + d for k in range(3, 12) for d in (-1, 0, 1)]
        stages = dln_int_stages("n", "x")
        layers, prev = [], "nums"
        for i, (c, e) in enumerate(stages):
            layers.append(f"s{i} AS (SELECT *, {e} AS {c} FROM {prev})")
            prev = f"s{i}"
        sql = (
            "WITH nums AS (SELECT CAST(n AS BIGINT) AS n FROM src),\n"
            + ",\n".join(layers)
            + f"\nSELECT n, x_ln FROM {prev} ORDER BY n"
        )
        con = duckdb.connect()
        con.sql("CREATE TABLE src AS SELECT unnest(?) AS n", params=[vals])
        duck = con.sql(sql).fetchall()
        spark.createDataFrame([(v,) for v in vals], "n long").createOrReplaceTempView("src")
        sp = [(r.n, r.x_ln) for r in spark.sql(sql).collect()]
        assert len(duck) == len(sp) == len(vals)
        for (dn, dv), (sn, sv) in zip(duck, sp):
            assert dn == sn and dv == sv, (dn, dv, sv)
            assert dv == dln_int_py(dn), (dn, dv, dln_int_py(dn))


# --- seventh-wave guards (round-6): Levene / JB / Kendall / ESD ---
# The seeded testdata never produces a zero-variance or single-row
# group, so the nullif guards in the seventh-wave stats queries are
# unreachable by the oracle harness; these fixtures reach them and
# assert BOTH engines return the same NULLs (the Welch/moments
# precedent from rounds 3-4).


@pytest.fixture(scope="module")
def degenerate_wave7(spark):
    """Groups: 'const' (zero variance, >1 row), 'single' (one row —
    n−1 = 0), plus a healthy 'ok' group so k−1 > 0."""
    rows = []
    eid = 0
    for i in range(6):
        rows.append(("const", eid, T0 + timedelta(days=i), 7.5))
        eid += 1
    rows.append(("single", eid, T0, 3.25))
    eid += 1
    for i in range(6):
        rows.append(("ok", eid, T0 + timedelta(days=i), float(i * i + 1)))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["event_type", "event_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    yield pdf
    spark.catalog.dropTempView("events")


def test_jarque_bera_zero_variance_null_on_both_engines(spark, degenerate_wave7):
    from posting_lines_spark.queries.analytics_q import _jb_sql

    got = _rows(spark.sql(_jb_sql()))
    want = _duck(degenerate_wave7, _jb_sql())
    assert got == want
    by = {r[0]: r for r in got}
    # zero variance and single-row: skew/kurt/jb NULL — not NaN/Inf
    for g in ("const", "single"):
        assert by[g][2] is None and by[g][3] is None and by[g][4] is None
    assert by["ok"][2] is not None


def test_levene_single_group_and_zero_deviation(spark, degenerate_wave7):
    from posting_lines_spark.queries.analytics_q import _levene_sql

    got = _rows(spark.sql(_levene_sql()))
    want = _duck(degenerate_wave7, _levene_sql())
    assert got == want  # same W (or same NULL) on both engines


def test_kendall_single_day_group_absent_or_null_on_both(spark, degenerate_wave7):
    from posting_lines_spark.queries.analytics_q import _kendall_sql

    got = _rows(spark.sql(_kendall_sql("unix_micros(ts)")))
    want = _duck(degenerate_wave7, _kendall_sql("epoch_us(ts)"))
    assert got == want
    # 'single' has one day -> no pairs row -> absent from the inner join
    assert "single" not in {r[0] for r in got}
    # 'const' has 6 days all tied -> n0 == tv -> tau NULL on both
    const = next(r for r in got if r[0] == "const")
    assert const[4] is None


def test_esd_degenerate_groups_same_picks_on_both(spark, degenerate_wave7):
    from posting_lines_spark.queries.analytics_q import _esd_sql

    got = _rows(spark.sql(_esd_sql("")))
    want = _duck(degenerate_wave7, _esd_sql("MATERIALIZED "))
    assert sorted(got, key=str) == sorted([tuple(r) for r in want], key=str)
    # zero-variance/single groups yield NULL r -> no pick row for them
    types_with_picks = {r[1] for r in got}
    assert "const" not in types_with_picks
    assert "single" not in types_with_picks
    assert "ok" in types_with_picks


@pytest.fixture(scope="module")
def zero_positive_events(spark):
    """A corpus with NO purchase events: every ml_* divisor involving
    the positive count (P, P·N, gains' p_all, Brier's p̄(1−p̄)) is zero.
    Spark's ANSI mode ERRORS on double division by zero while DuckDB
    returns NULL — the nullif guards in queries/ml_q.py are an
    engine-parity requirement these rows reach (round-7 probe: auc /
    brier / ks / lift all diverged before the guards)."""
    rows = []
    for i, (u, t, v) in enumerate(
        [
            (1, "view", 1.0),
            (1, "click", 2.0),
            (2, "view", 3.0),
            (2, "click", 4.0),
            (3, "view", 5.0),
            (3, "error", 6.0),
        ]
    ):
        rows.append((i, T0 + timedelta(minutes=i), u, t, v))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    yield pdf
    spark.catalog.dropTempView("events")


def test_ml_zero_positive_corpus_null_on_both_engines(spark, zero_positive_events):
    from posting_lines_spark.queries.ml_q import (
        AUC_ORACLE,
        KS_SEP_ORACLE,
        LIFT_ORACLE,
        _brier_sql,
        _confusion_sql,
        _log_loss_sql,
        _mrr_sql,
        _ndcg_sql,
        _sweep_sql,
    )

    for sql in (
        AUC_ORACLE,
        _brier_sql(),
        _mrr_sql(),
        _ndcg_sql(),
        KS_SEP_ORACLE,
        LIFT_ORACLE,
        _log_loss_sql(),
        _confusion_sql(),
        _sweep_sql(),
    ):
        got = _rows(spark.sql(sql))
        want = _duck(zero_positive_events, sql)
        assert got == want, sql[:120]
    # spot-check the guarded NULLs: AUC and KS are undefined with P = 0
    auc = _rows(spark.sql(AUC_ORACLE))[0]
    assert auc[0] == 0 and auc[3] is None and auc[4] is None
    ks = _rows(spark.sql(KS_SEP_ORACLE))[0]
    assert ks[0] == 0 and ks[2] is None
