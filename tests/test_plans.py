"""Physical-plan assertions: the scale claims IMPLEMENTATION.md makes in
prose (broadcast joins, scan pushdown, codegen-clean spatial family) are
encoded here so a regression flips a test, not a benchmark.

The spatial-family tests pin the round-2 finding: filtering/joining on
*lazily derived* Albers columns inlines the projection polynomial into the
predicate, overflows Janino's 64KB method limit, and silently drops to
interpreted execution. The fix (queries/geo_q.py `enrich_materialized`)
cuts lineage before the consumer; these tests execute each query with
codegen fallback DISABLED (a compile failure then raises instead of
silently degrading) and assert the final plans stay codegen-clean.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF0001, SF001

# sf0.01: the bbox window is empty at sf0.001 (needs the full data extent)
SPATIAL = ["geo_bbox_filter", "geo_distance_join", "geo_knn_join"]

# An inlined Albers kernel is tens of KB of expression text; genuine
# predicates (bbox compares, dist_m threshold, key equality) are < ~2KB.
MAX_CONDITION_NODE_CHARS = 4000


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", SPATIAL)
def test_spatial_family_is_codegen_clean(spark, name):
    from posting_lines_spark.queries import load_all

    fn = load_all()[name].fn
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = fn(spark, SF001)
        rows = df.collect()  # executes; compile failure would raise here
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")
    assert rows, f"{name} returned no rows"
    plan = _executed_plan(df)
    # toString marks whole-stage-codegen spans as `*(id)` node prefixes
    assert re.search(r"\*\(\d+\)", plan), f"{name}: no codegen stage at all:\n{plan}"
    for line in plan.splitlines():
        s = line.strip(" +-*(0123456789)")
        if s.startswith(("Filter", "BroadcastHashJoin", "SortMergeJoin")):
            assert len(line) < MAX_CONDITION_NODE_CHARS, (
                f"{name}: condition node carries an inlined kernel "
                f"({len(line)} chars): {line[:200]}..."
            )


def test_spatial_consumers_read_materialized_attributes(spark):
    """The consumer plan must start from the lineage cut (a LogicalRDD /
    ExistingRDD scan), not re-derive the projection: the Albers constants
    must not appear in any Filter/Join line of the big-side plan."""
    from posting_lines_spark.functions import geo
    from posting_lines_spark.queries import load_all

    sentinel = repr(geo.RHO0)  # unique kernel constant (Snyder eq 14-12a)
    fn = load_all()["geo_bbox_filter"].fn
    plan = _executed_plan(fn(spark, SF001))
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan" in plan
    assert sentinel not in plan, "bbox consumer re-derives the Albers projection"


def test_join_region_revenue_broadcasts_dimensions(spark):
    """The star join's dimension sides (region/nation/customer at small SF,
    region/nation always) must broadcast — one shuffle of the fact table,
    never a shuffle of a dimension."""
    from posting_lines_spark.queries import load_all

    df = load_all()["join_region_revenue"].fn(spark, SF0001)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, f"no broadcast join in plan:\n{plan}"


def test_pipeline_detect_pushes_null_filter_and_prunes_scan(spark):
    """O2 change detection: IsNull(geom) reaches the parquet scan and the
    ReadSchema is pruned to exactly (key, geom)."""
    from posting_lines_spark.queries import load_all

    df = load_all()["pipeline_detect"].fn(spark, SF0001)
    plan = _executed_plan(df)
    assert "PushedFilters: [IsNull(geom)]" in plan, plan
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines and "ReadSchema: struct<segment_id:bigint,geom:" in scan_lines[0]


# Shuffle-count pins for the headline queries: each number is a design
# claim from IMPLEMENTATION/SCALE (enrich is shuffle-FREE; the aggregates
# are one partial+final exchange plus the presentation sort; the star
# join broadcasts its dimensions so only the fact side exchanges). A
# regression here means an operator silently grew a shuffle — the exact
# failure mode that is invisible at sf0.01 and fatal at 100 TB.
SHUFFLE_BUDGET = {
    "pipeline_enrich": 0,
    "geo_flagship": 2,       # partial+final agg exchange + result sort
    "dedup_exact": 2,        # digest hash-aggregate + presentation sort
    "q1_pricing_summary": 2,
    "join_region_revenue": 2,  # fact-side agg exchanges; dims broadcast
}


@pytest.mark.parametrize("name,budget", sorted(SHUFFLE_BUDGET.items()))
def test_headline_shuffle_budget(spark, name, budget):
    from posting_lines_spark.queries import load_all

    df = load_all()[name].fn(spark, SF0001)
    plan = _executed_plan(df)
    # shuffle exchanges only — BroadcastExchange moves a dim table, not
    # the data, and is exactly what the budget rewards
    n = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    assert n <= budget, f"{name}: {n} shuffles (budget {budget}):\n{plan[:1500]}"


def test_bucketed_join_query_has_no_join_side_shuffle(spark):
    """join_bucketed_colocated's claim: zero exchanges BELOW the join —
    the only shuffles in the whole plan are the aggregate's partial→final
    exchange and the presentation sort."""
    from posting_lines_spark.queries import load_all

    df = load_all()["join_bucketed_colocated"].fn(spark, SF0001)
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan, plan[:1500]
    n = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    assert n <= 2, f"{n} shuffles — the join side grew an exchange:\n{plan[:2000]}"


def test_q19_disjunctive_predicate_stays_equi_hash_join(spark):
    """TPC-H Q19's OR-of-conjunctions must NOT degrade the join: the
    optimizer factors the common p_partkey = l_partkey conjunct out of
    the disjunction, leaving a hash join with a disjunctive residual and
    the per-leg ranges pushed to BOTH parquet scans. A CartesianProduct /
    BroadcastNestedLoopJoin here is the plan that melts at 100 TB."""
    from posting_lines_spark.queries import load_all

    df = load_all()["q19_disjunctive_join"].fn(spark, SF001)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan[:2000]
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    pushed = [ln for ln in scans if "Or(Or(" in ln]
    assert len(pushed) == 2, f"disjunctive ranges not pushed to both scans:\n{scans}"


def test_q17_decorrelates_to_one_extra_aggregate(spark):
    """The correlated scalar AVG must decorrelate: exactly one extra
    lineitem aggregate joined back on l_partkey — no per-row subquery
    node survives in the physical plan."""
    from posting_lines_spark.queries import load_all

    df = load_all()["q17_small_qty_revenue"].fn(spark, SF001)
    plan = _executed_plan(df)
    # decorrelated: the avg shows up as a joined aggregate, not a scalar
    assert plan.count("HashAggregate") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_reach_the_scan(spark):
    """TPC-H Q6: the shipdate range, discount range, and quantity bound
    must ALL appear as PushedFilters on the lineitem parquet scan — the
    plan is scan → partial agg → final agg with no join and no shuffle of
    row data."""
    from posting_lines_spark.queries import load_all

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        df = load_all()["q6_forecast_revenue"].fn(spark, SF001)
        plan = _executed_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, plan[:2000]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in scans[0], f"predicate not pushed: {frag}\n{scans[0][:1200]}"
    assert "Join" not in plan


def test_q2_correlated_min_decorrelates(spark):
    """TPC-H Q2's correlated scalar MIN over the cost CTE must become a
    per-partkey aggregate joined back — no per-row subquery, no
    cartesian product in the physical plan."""
    from posting_lines_spark.queries import load_all

    df = load_all()["q2_min_cost_supplier"].fn(spark, SF001)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the cost grain + the decorrelated min = at least two aggregates
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_q20_nested_in_decorrelates_to_semi_joins(spark):
    """TPC-H Q20's IN(GROUP BY … HAVING agg > correlated-scalar) nesting
    must land as semi-join probes plus one decorrelated per-partkey
    aggregate — nested-loop execution here is the 100 TB melt-down."""
    from posting_lines_spark.queries import load_all

    df = load_all()["q20_part_promotion"].fn(spark, SF001)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, plan[:2000]


TPCH_NEW = [
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q12_priority_classes",
    "q14_promo_effect",
    "q16_supplier_relation",
]


@pytest.mark.parametrize("name", TPCH_NEW)
def test_tpch_suite_no_cartesian_no_python_rows(spark, name):
    """Blanket scale guard for the completed TPC-H suite: no cartesian
    products, no nested-loop joins, no row-wise Python evaluation."""
    from posting_lines_spark.queries import load_all

    df = load_all()[name].fn(spark, SF001)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_plans_md_covers_full_registry():
    """PLANS.md is the reviewable plan-audit artifact; it must not drift
    from the registry (round-4 verdict: text_roundtrip was registered one
    commit after the last regen and the audit silently lagged). Compares
    the audit table's query names to load_all() keys exactly — a new
    query without a regenerated PLANS.md fails here, not in review."""
    import os

    from posting_lines_spark.queries import load_all

    plans_path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "PLANS.md")
    rows = set()
    with open(plans_path) as f:
        for line in f:
            m = re.match(r"\| ([a-z0-9_]+) \|", line)
            if m and m.group(1) != "query":
                rows.add(m.group(1))
    registry = set(load_all())
    missing = sorted(registry - rows)
    stale = sorted(rows - registry)
    assert not missing and not stale, (
        f"PLANS.md drift — regenerate with tools/dump_plans.py; "
        f"missing={missing} stale={stale}"
    )


def test_profile_query_cli_fields():
    """tools/profile_query.py prints one JSON object per query with the
    construction/action split and the event-log totals of its timed
    runs. After the warm-up, geo_flagship builds its plan without a job
    (the footer schema is memoized), while dedup_minhash_lsh's shared
    shingle cut runs upstream stages at construction under AQE."""
    import json
    import os
    import subprocess
    import sys

    from tests.conftest import REPO

    r = subprocess.run(
        [sys.executable, os.path.join("tools", "profile_query.py"), SF0001,
         "geo_flagship", "dedup_minhash_lsh"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g"),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    rows = {o["query"]: o for o in (json.loads(ln) for ln in r.stdout.splitlines()
                                      if ln.startswith("{"))}
    fields = {"construct_s", "action_s", "construct_jobs", "jobs", "stages", "tasks",
              "run_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "one_task_stage_s", "core_idle_frac"}
    assert set(rows) == {"geo_flagship", "dedup_minhash_lsh"}, r.stdout
    for name, row in rows.items():
        assert fields <= set(row) and "error" not in row, row
        assert row["jobs"] >= 1, row
    assert rows["geo_flagship"]["construct_jobs"] == 0, rows["geo_flagship"]
    assert rows["dedup_minhash_lsh"]["construct_jobs"] >= 1, rows["dedup_minhash_lsh"]


def _package_calls(match, skip: str | None = None) -> list[str]:
    """`path:line` of every call node in the package (but the module
    `skip`) for which `match(call)` holds."""
    import ast
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "posting_lines_spark")
    sites = []
    for d, _, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(d, f)
            if not f.endswith(".py") or os.path.relpath(path, root) == skip:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            sites += [
                f"{os.path.relpath(path, root)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and match(n)
            ]
    return sites


def test_every_lineage_cut_goes_through_cuts():
    """Spark-free guard: the only raw `localCheckpoint` / `checkpoint`
    calls in the package are inside `operators/cuts.py`, so every cut
    shares one storage level and one durability rule."""
    sites = _package_calls(
        lambda n: n.func.attr in ("localCheckpoint", "checkpoint"), skip="operators/cuts.py"
    )
    assert not sites, f"{len(sites)} raw cut call(s) outside operators/cuts.py: {sites}"


def test_every_stream_twin_restarts_from_a_checkpoint():
    """Spark-free guard: no stream writes to a memory sink (it cannot
    restart from a checkpoint), and applyInPandasWithState is called in
    one place only, `streaming/stateful.drain_state`, the one form of an
    engine-state twin."""
    import ast

    memory = _package_calls(
        lambda n: n.func.attr == "format"
        and any(isinstance(a, ast.Constant) and a.value == "memory" for a in n.args)
    )
    stateful = _package_calls(lambda n: n.func.attr == "applyInPandasWithState")
    assert not memory and len(stateful) <= 1, (
        f"{len(memory)} memory sink(s): {memory}; "
        f"{len(stateful)} applyInPandasWithState call(s): {stateful}"
    )


def test_no_checkout_path_in_tests_or_tools():
    """Spark-free guard: tests and tools find the package from their own
    `__file__`, never from a hard-coded checkout path, so a suite run
    from another checkout (a copy of the parent commit, say) tests that
    checkout's code rather than silently importing another one's. A
    checkout path is any absolute path inside a directory that holds
    the package; this checkout's own path counts even where it is not
    spelled out whole."""
    import os

    from tests.conftest import REPO

    def in_checkout(path: str) -> bool:
        parts = path.split("/")
        return any(
            os.path.isfile(os.path.join("/".join(parts[:i]), "posting_lines_spark", "__init__.py"))
            for i in range(2, len(parts) + 1)
        )

    hits = []
    for sub in ("tests", "tools"):
        for d, dirs, files in os.walk(os.path.join(REPO, sub)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in sorted(files):
                path = os.path.join(d, f)
                with open(path, errors="replace") as fh:
                    hits += [
                        f"{os.path.relpath(path, REPO)}:{i}"
                        for i, line in enumerate(fh, 1)
                        if REPO in line
                        or any(in_checkout(t) for t in re.findall(r"(?<![\w.~])/[\w.\-/]+", line))
                    ]
    assert not hits, f"{len(hits)} line(s) hard-code a checkout path: {hits}"


# Test files that check the whole registry or the harness rather than one
# operator family.
CROSS_CUTTING_TESTS = {
    "test_plans.py",
    "test_queries.py",
    "test_properties.py",
    "test_degenerate.py",
    "test_degeneracy_gate.py",
    "test_driver_env.py",
    "test_ledger_priority.py",
}


def test_tests_are_laid_out_by_family():
    """Spark-free guard on the test layout:
      - every `tests/test_*.py` is a family file — named after a query
        module (`queries/<family>_q.py`), an operator, streaming or
        functions module, or a package subpackage — or one of the
        cross-cutting files, and none is named by round, wave or replay;
      - no test module defines a top-level function or class twice (the
        second silently shadows the first, and pytest drops a shadowed
        test);
      - every `tests/test_*.py` path named in the package, the tools, the
        README or the verify skill exists, and so does the test a
        `path::name` pointer names.
    """
    import ast
    import glob
    import os

    from tests.conftest import REPO

    pkg = os.path.join(REPO, "posting_lines_spark")
    families = {os.path.basename(p)[:-5] for p in glob.glob(os.path.join(pkg, "queries", "*_q.py"))}
    for sub in ("operators", "streaming", "functions"):
        families |= {os.path.basename(p)[:-3] for p in glob.glob(os.path.join(pkg, sub, "*.py"))}
    families |= {os.path.basename(os.path.dirname(p)) for p in glob.glob(os.path.join(pkg, "*", "__init__.py"))}
    files = sorted(os.path.basename(p) for p in glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    stray = [f for f in files if f not in CROSS_CUTTING_TESTS and f[5:-3] not in families]
    assert not stray, f"test files that are neither a family nor cross-cutting: {stray}"
    by_round = [f for f in files if re.search(r"round|wave|replays", f)]
    assert not by_round, f"test files named by round: {by_round}"

    shadowed = []
    for path in sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        seen = set()
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if n.name in seen:
                    shadowed.append(f"{os.path.basename(path)}:{n.lineno} {n.name}")
                seen.add(n.name)
    assert not shadowed, f"top-level names defined twice: {shadowed}"

    docs = [os.path.join(REPO, "README.md"), os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")]
    for sub in ("posting_lines_spark", "tools"):
        docs += glob.glob(os.path.join(REPO, sub, "**", "*.py"), recursive=True)
    missing = []
    for path in docs:
        with open(path) as fh:
            for t, name in re.findall(r"(tests/test_\w+\.py)(?:::(\w+))?", fh.read()):
                target = os.path.join(REPO, t)
                if not os.path.isfile(target) or (
                    name and not re.search(rf"\b(def|class) {name}\b", open(target).read())
                ):
                    missing.append(f"{os.path.relpath(path, REPO)}: {t}::{name}")
    assert not missing, f"pointers at tests that do not exist: {missing}"
