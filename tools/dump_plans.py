"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query: count of Exchange (shuffle) nodes, join strategies,
Python-eval nodes (should be Arrow-only), and whether the parquet scan
shows pushed filters / pruned schemas. Full formatted plans are included
for two exemplars (the flagship geodesy aggregate and the bucketed
spatial distance join) so plan quality is reviewable without running
anything.

Usage: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXEMPLARS = ["geo_flagship", "geo_distance_join"]

JOIN_NODES = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]
PY_NODES = ["ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"]


def _noop_lazy_checkpoints() -> None:
    """Audit-mode lineage visibility (r6 verdict "plan-audit blind spot"):
    `localCheckpoint(eager=False)` cuts lineage, so the audited plan of a
    checkpointed query showed only its LAST segment — dedup_minhash_lsh
    audited as "1 exchange, no joins" while actually running a band
    self-join + Jaccard-verify join behind three lazy cuts. Lazy cuts are
    pure caching/lineage hints (no semantics), so for the audit we no-op
    them and count the FULL plan. Eager checkpoints (iterative graph
    rounds) still run — their truncation is intrinsic to iterative
    execution and each round's segment repeats the same shape."""
    # NB: patch the CONCRETE class — in PySpark 4 `pyspark.sql.DataFrame`
    # is the abstract base and classic.dataframe.DataFrame overrides
    # localCheckpoint, so patching the base is a silent no-op (observed:
    # the first r7 regen still showed the truncated plans).
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    def patched(self, eager=True, storageLevel=None):
        if eager:
            return orig(self, eager=True) if storageLevel is None else orig(
                self, eager=True, storageLevel=storageLevel
            )
        return self

    DataFrame.localCheckpoint = patched


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.session import get_spark

    spark = get_spark(app="plans")
    registry = sorted(load_all().items())

    # Structural audit of the FULL plan (lazy cuts no-op'd).
    _noop_lazy_checkpoints()
    rows = []
    exemplar_plans = {}
    for name, spec in registry:
        try:
            df = spec.fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            formatted = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:  # noqa: BLE001
            rows.append((name, "ERROR", "", "", str(e).splitlines()[0][:80]))
            continue
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        joins = sorted({j for j in JOIN_NODES if j in plan})
        pyevals = sorted({p for p in PY_NODES if p in plan})
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", formatted) else "-"
        rows.append(
            (name, str(n_exchange), "+".join(joins) or "-", "+".join(pyevals) or "-", pushed)
        )
        if name in EXEMPLARS:
            exemplar_plans[name] = formatted
    spark.stop()

    out = [
        "# PLANS — physical-plan audit (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. `Exchanges` counts shuffle nodes in the",
        "initial adaptive plan (AQE may coalesce further at runtime). Python",
        "nodes must be Arrow-batched; `BatchEvalPython` (row-at-a-time) never",
        "appears (enforced by tests/test_queries.py). Lazy lineage cuts",
        "(`localCheckpoint(eager=False)`) are NO-OP'd for this audit, so the",
        "counts reflect the FULL plan across cut boundaries (r6 verdict:",
        "checkpointed queries previously audited as their last segment only).",
        "Eager checkpoints inside iterative operators still truncate; those",
        "plans repeat one per-round segment shape.",
        "",
        "Measured per-query volumes (shuffle bytes, jobs, stages, spill) are",
        "not audited here: `tools/profile_query.py` reports them, and its",
        "registry-wide run is committed as `BREAKDOWN_rNN.json`.",
        "",
        "| query | exchanges | joins | python | pushed filters |",
        "|---|---|---|---|---|",
    ]
    out += ["| " + " | ".join(r) + " |" for r in rows]
    for name, plan in exemplar_plans.items():
        out += ["", f"## {name} (formatted plan)", "", "```", plan.rstrip(), "```"]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"PLANS.md written: {len(rows)} queries audited")


if __name__ == "__main__":
    main()
