"""Query-level assertions that the oracle harness can't express."""

from __future__ import annotations

import pytest

from tests.conftest import SF0001


def test_approx_stats_within_bounds(spark):
    from posting_lines_spark.queries.array_q import approx_stats
    from posting_lines_spark.sources import load_table

    row = approx_stats(spark, SF0001).collect()[0]
    li = load_table(spark, SF0001, "lineitem")
    assert row.exact_parts == li.select("l_partkey").distinct().count()
    assert row.exact_orders == li.select("l_orderkey").distinct().count()
    assert row.parts_ok and row.orders_ok and row.median_ok


def test_no_oracle_uses_multifield_struct_accumulator():
    """DuckDB 1.0's list_reduce mutates a multi-field STRUCT accumulator in
    place while evaluating the lambda's field expressions (adjudicated in
    round-5 VERDICT.md via a probe-field repro: 'lp': acc.l returned the
    NEW l), silently corrupting any >=2-field fold state. The
    timeseries_holt oracle hit this; its fix was a recursive CTE. This
    guard keeps the bug class out of every FUTURE oracle: no oracle SQL
    may build a struct-literal accumulator lambda ("-> {'" / "-> {{'")
    inside list_reduce/reduce. Scalar accumulators (DOUBLE/BIGINT) and
    struct ELEMENTS (x.field reads) remain fine.
    """
    import re

    import __spark_entry__ as m

    pat = re.compile(r"->\s*\{'")
    offenders = [
        name
        for name, sql in m.oracle_sql().items()
        if ("list_reduce" in sql or "reduce(" in sql) and pat.search(sql)
    ]
    assert not offenders, (
        f"multi-field struct accumulator in DuckDB oracle (unsafe in "
        f"DuckDB 1.0 list_reduce): {offenders}"
    )


# Queries allowed to contain a cartesian product: 1-row × 1-row scalar
# combines, where a cross join is the correct plan.
_CARTESIAN_OK = {"corpus_survivors", "approx_stats"}


def _registry_params():
    """One param per registered query, id `<family>-<query>` where the
    family is the query module's name without `_q`, so `-k graph-` runs
    one family's slice of the sweep."""
    from posting_lines_spark.queries import load_all

    return [
        pytest.param(name, id=f"{spec.fn.__module__.rsplit('.', 1)[1].removesuffix('_q')}-{name}")
        for name, spec in load_all().items()
    ]


@pytest.mark.parametrize("name", _registry_params())
def test_all_registered_queries_have_unique_output_columns_and_sane_plans(spark, name):
    """Each registered query checks two driver-facing invariants and two
    scale invariants:
      - no duplicate output column names (the driver sorts columns by
        name before hashing — duplicates silently corrupt the compare);
      - no CartesianProduct in the physical plan (broadcast nested-loop
        over a tiny side is fine; an unbounded cartesian is never the
        plan we want at 100 TB) except for declared 1-row scalar combines;
      - no row-at-a-time Python UDFs (BatchEvalPython) — Python is only
        allowed Arrow-batched (ArrowEval/MapInPandas/FlatMapGroups...);
      - no global Sort at the root of the analyzed plan (below any
        WithCTE): a query returns an unordered multiset, and every gate
        compares rows order-insensitively. Sorts under a Limit (top-k),
        window orderings and ordered aggregates are not roots.
    """
    from posting_lines_spark.queries import load_all

    df = load_all()[name].fn(spark, SF0001)
    cols = [c.lower() for c in df.columns]
    assert len(cols) == len(set(cols)), f"{name} has duplicate columns: {cols}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name not in _CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    root = df._jdf.queryExecution().analyzed()
    if root.nodeName() == "WithCTE":
        root = root.plan()
    assert not (root.nodeName() == "Sort" and getattr(root, "global")()), (
        f"{name} ends in a global sort that no gate checks"
    )


def test_timeseries_gapfill_locf_semantics(spark):
    from posting_lines_spark.queries import load_all

    q = load_all()["timeseries_gapfill"].fn
    rows = sorted(
        q(spark, SF0001).collect(),
        key=lambda r: (r.event_type, r.bucket),
    )
    assert rows, "gapfill produced no rows"
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        # dense spine: consecutive buckets, no holes
        buckets = [r.bucket for r in rs]
        assert buckets == list(range(buckets[0], buckets[-1] + 1)), et
        # first bucket is observed by construction (min over observed)
        assert not rs[0].is_gap and rs[0].filled_sum is not None
        # LOCF: a gap row carries the previous row's filled value forward
        for prev, cur in zip(rs, rs[1:]):
            assert cur.is_gap == (cur.n_events == 0)
            if cur.is_gap:
                assert cur.filled_sum == prev.filled_sum


def test_table_diff_matches_python_dict_diff(spark):
    """Replay the snapshot perturbation in plain Python over the parquet
    rows and diff dictionaries — classification must match row-for-row."""
    import duckdb

    from posting_lines_spark.queries import load_all

    rows = duckdb.connect().execute(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority "
        f"FROM read_parquet('{SF0001}/orders.parquet')"
    ).fetchall()
    old = {k: (c, s, p) for k, c, s, p in rows}
    new = {}
    for k, (c, s, p) in old.items():
        if k % 97 != 0:
            new[k] = (c, s, "RUSH" if k % 89 == 3 else p)
        if k % 101 == 5:
            new[k + 100000000] = (c, "N", p)
    expected = {}
    for k in old.keys() | new.keys():
        if k not in old:
            expected[k] = "added"
        elif k not in new:
            expected[k] = "removed"
        elif old[k] != new[k]:
            expected[k] = "changed"
    got = {
        r.o_orderkey: r.diff_status
        for r in load_all()["table_diff"].fn(spark, SF0001).collect()
    }
    assert got == expected


def test_gapfill_matches_pandas_locf_replay(spark):
    """Pure-pandas replay of bucket → spine → LOCF over the same parquet:
    the Spark result must match value-for-value (decimal-routed sums
    re-quantized identically)."""
    from decimal import Decimal

    import pandas as pd

    from posting_lines_spark.queries import load_all

    pdf = pd.read_parquet(f"{SF0001}/events.parquet")
    # normalize to ns first: parquet has shipped as both timestamp[ns] and
    # timestamp[us], and astype(int64) counts in the stored resolution
    ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
    pdf["bucket"] = ts_us // 3_600_000_000
    expected: dict = {}
    for et, g in pdf.groupby("event_type"):
        obs_n = g.groupby("bucket").size()
        obs_s = {
            b: float(sum(Decimal(repr(v)).quantize(Decimal("0.000001")) for v in gg["value"]))
            for b, gg in g.groupby("bucket")
        }
        carried = None
        for b in range(int(obs_n.index.min()), int(obs_n.index.max()) + 1):
            n = int(obs_n.get(b, 0))
            if n:
                carried = obs_s[b]
            expected[(et, b)] = (n, carried, n == 0)
    got = {
        (r.event_type, r.bucket): (r.n_events, r.filled_sum, r.is_gap)
        for r in load_all()["timeseries_gapfill"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(expected)
    for k, (n, s, gap) in expected.items():
        gn, gs, ggap = got[k]
        assert (gn, ggap) == (n, gap), k
        assert gs == s or abs(gs - s) < 1e-9, (k, gs, s)


def test_no_duplicate_toplevel_defs_in_query_modules():
    """A later same-named module-level function silently SHADOWS an
    earlier one — round 13 hit this live: a second _cusum_sql broke the
    round-8 timeseries_changepoint_cusum at runtime while every
    individually-targeted check stayed green (only the full-registry
    sweep caught it). AST-scan every queries module for duplicate
    top-level def names; registration-name duplicates are separately
    guarded in register() itself."""
    import ast
    import os

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(__file__)),
        "posting_lines_spark",
        "queries",
    )
    for fname in sorted(os.listdir(qdir)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(qdir, fname)).read())
        seen: dict[str, int] = {}
        dupes = []
        for node in tree.body:  # top level only — nested defs are fine
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name in seen:
                    dupes.append(
                        f"{fname}:{node.lineno} def {node.name} shadows "
                        f"line {seen[node.name]}"
                    )
                seen[node.name] = node.lineno
        assert not dupes, dupes
