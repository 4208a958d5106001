"""Registry-wide degeneracy / vacuity gate.

Motivation (round-11 postmortem, VERDICT r11 "What's wrong" #1): 258 of
the registry's queries execute the SAME builder-generated SQL text on
Spark and on the DuckDB oracle, so a bug in the shared text passes
parity on both sides. Round 11 hit this live twice — `text_sttr`'s
first draft made every segment one token long (integer `/` returns
DOUBLE on both engines → vacuously tiny output, parity green), caught
only by human row-count sanity. Parity cannot see vacuity; this gate
can.

What it does — for EVERY registered query, engine side only (one Spark
aggregate job per query, no collect of the result set):

  * exact output row count at sf0.001 and sf0.01,
  * output column list,
  * per-column exact distinct count (complex types via to_json) and
    null count.

`--pin` runs everything and writes `tools/degeneracy_manifest.json`,
then prints a REVIEW REPORT of suspicious entries (0 rows anywhere;
rows that do NOT grow sf0.001→sf0.01 for non-scalar outputs; columns
constant across >3 rows; all-NULL columns). The manifest is pinned
deliberately: regenerate only when queries are added or semantics
change, and review the diff — that review is the vacuity check
automation can't make.

The default (check) mode re-runs the profile at one SF and asserts,
per query: row count equals the pinned count, columns equal the pinned
list, every pinned multi-valued column still has >1 distinct value,
and every pinned non-all-NULL column is still not all-NULL. Any
silent collapse to 0 rows / 1 row / constant output — the exact
text_sttr failure shape — now fails loudly even though parity stays
green.

Usage:
  python tools/check_degeneracy.py --pin            # regenerate + review
  python tools/check_degeneracy.py --pin q1 q2      # incremental pin
  python tools/check_degeneracy.py --pin-sf01       # sf0.1 pins for the
                                                    # bench tier-2 heavies
  python tools/check_degeneracy.py                  # gate at sf0.001
  python tools/check_degeneracy.py --sf sf001       # gate at sf0.01
  python tools/check_degeneracy.py --sf sf01        # gate the sf01 pins
  python tools/check_degeneracy.py --sf sf001 q1 q2 # subset gate
"""

from __future__ import annotations

import json
import os
import sys

MANIFEST = os.path.join(os.path.dirname(__file__), "degeneracy_manifest.json")
SF_DIRS = {
    "sf0001": "/root/testdata/sf0.001",
    "sf001": "/root/testdata/sf0.01",
}
# sf0.1 pins exist ONLY for the tier-2 heavy-shuffle queries (VERDICT
# r12 item 5): those are exactly the queries whose row counts could
# silently collapse at larger SFs without parity noticing (band-sweep
# census cap, DBSCAN grid, modularity rounds). Pinned via --pin-sf01;
# checked via --sf sf01 (covers only queries that carry an sf01 entry).
# geo_knn_join and geo_knn_grid keep the pins they took as tier-2
# members before bench.TIER2 was re-picked from BREAKDOWN_r19.json.
SF01_DIR = "/root/testdata/sf0.1"
# Queries whose engine side is legitimately nondeterministic in row
# count (none today — parity discipline forbids it). Kept explicit so
# any future exception is a reviewed one-liner, not a silent skip.
ROWCOUNT_EXEMPT: frozenset[str] = frozenset()


def _profile(spark, fn, sf_dir: str) -> dict:
    """One aggregate job: rows + per-column distinct/null counts."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = fn(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("__n")]
    atomic = (
        T.StringType,
        T.BooleanType,
        T.DateType,
        T.TimestampType,
        T.NumericType,
        T.BinaryType,
    )
    for i, f in enumerate(df.schema.fields):
        c = F.col(f.name)
        if not isinstance(f.dataType, atomic):
            c = F.to_json(F.struct(c.alias("v")))
        aggs.append(F.count_distinct(c).alias(f"__d{i}"))
        aggs.append(F.count(c).alias(f"__c{i}"))
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    cols = list(df.columns)
    return {
        "rows": n,
        "cols": cols,
        "distinct": {cols[i]: row[f"__d{i}"] for i in range(len(cols))},
        "nonnull": {cols[i]: row[f"__c{i}"] for i in range(len(cols))},
    }


def _load_manifest() -> dict:
    with open(MANIFEST) as fh:
        return json.load(fh)


def pin(only: list[str] | None = None) -> int:
    """Full pin, or — with `only` — an incremental pin that merges the
    named queries into the existing manifest (for new/changed queries;
    still prints the review report for the merged entries)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.session import get_spark

    spark = get_spark(app="degeneracy-pin")
    registry = load_all()
    if only:
        unknown = sorted(set(only) - set(registry))
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
        registry = {k: registry[k] for k in only}
    out: dict[str, dict] = {}
    review: list[str] = []
    for name, q in registry.items():
        prof = {}
        for label, sf_dir in SF_DIRS.items():
            try:
                prof[label] = _profile(spark, q.fn, sf_dir)
            except Exception as e:  # noqa: BLE001 - report, keep pinning
                review.append(f"ERROR {name} @ {label}: {e}")
                prof[label] = {"error": str(e)}
        out[name] = prof
        small, big = prof.get("sf0001", {}), prof.get("sf001", {})
        ns, nb = small.get("rows"), big.get("rows")
        if ns is not None and nb is not None:
            if nb == 0:
                review.append(f"EMPTY  {name}: 0 rows at sf0.01")
            elif ns == 0:
                review.append(f"EMPTY  {name}: 0 rows at sf0.001")
            elif nb <= 1 < ns:
                review.append(
                    f"COLLAPSE {name}: {ns} rows at sf0.001 -> {nb} at sf0.01"
                )
            elif ns == nb and nb > 1:
                review.append(
                    f"FIXED  {name}: {nb} rows at both SFs (fixed-k family?)"
                )
            if nb > 3:
                const = [
                    c
                    for c in big["cols"]
                    if big["distinct"][c] <= 1 and big["nonnull"][c] > 0
                ]
                if const:
                    review.append(
                        f"CONST  {name}: single-valued over {nb} rows: {const}"
                    )
            allnull = [c for c in big.get("cols", []) if big["nonnull"][c] == 0]
            if allnull:
                review.append(f"ALLNULL {name}: {allnull}")
        done = len(out)
        print(f"pinned {done}/{len(registry)}  {name}: "
              f"{ns} -> {nb} rows", flush=True)
    spark.stop()
    sf_dirs = dict(SF_DIRS)
    if os.path.exists(MANIFEST):
        old = _load_manifest()
        sf_dirs.update(old.get("sf_dirs", {}))
        # sf01 pins (--pin-sf01, tier-2 heavies) survive a re-pin: the
        # sf0001/sf001 profile refresh must not silently drop them
        for name, prof in out.items():
            if "sf01" in old.get("queries", {}).get(name, {}):
                prof["sf01"] = old["queries"][name]["sf01"]
        if only:
            merged = old["queries"]
            merged.update(out)
            out = merged
    with open(MANIFEST, "w") as fh:
        json.dump({"sf_dirs": sf_dirs, "queries": out}, fh, indent=1,
                  sort_keys=True)
    print(f"\nwrote {MANIFEST} ({len(out)} queries)")
    print(f"\n=== REVIEW REPORT ({len(review)} items) ===")
    for line in review:
        print(line)
    return 0


def pin_sf01(names: list[str]) -> int:
    """Merge sf0.1 profiles for `names` (default: bench.TIER2) into the existing manifest as an `sf01` section
    per query."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.session import get_spark

    if not names:
        from bench import TIER2

        names = TIER2
    registry = load_all()
    unknown = sorted(set(names) - set(registry))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    manifest = _load_manifest()
    spark = get_spark(app="degeneracy-pin-sf01")
    for name in names:
        prof = _profile(spark, registry[name].fn, SF01_DIR)
        manifest["queries"].setdefault(name, {})["sf01"] = prof
        print(f"pinned sf01 {name}: {prof['rows']} rows", flush=True)
    spark.stop()
    manifest.setdefault("sf_dirs", dict(SF_DIRS))["sf01"] = SF01_DIR
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    print(f"wrote {MANIFEST} (+sf01 for {len(names)} queries)")
    return 0


def check(sf_label: str, only: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.session import get_spark

    manifest = _load_manifest()["queries"]
    registry = load_all()
    missing = sorted(set(registry) - set(manifest))
    extra = sorted(set(manifest) - set(registry))
    fails: list[str] = []
    if missing:
        fails.append(
            f"UNPINNED queries (run --pin and review the diff): {missing}"
        )
    if extra:
        fails.append(f"manifest has unregistered queries: {extra}")

    if sf_label == "sf01":
        # the sf01 tier covers only queries that carry an sf01 pin
        names = only or sorted(
            n for n, m in manifest.items() if "sf01" in m and n in registry
        )
        sf_dir = SF01_DIR
    else:
        names = only or sorted(set(registry) & set(manifest))
        sf_dir = SF_DIRS[sf_label]
    spark = get_spark(app="degeneracy-check")
    npass = 0
    for name in names:
        if name not in manifest:
            fails.append(f"{name}: not pinned")
            continue
        want = manifest[name].get(sf_label)
        if not want or "error" in want:
            fails.append(f"{name}: no clean pin at {sf_label}")
            continue
        try:
            got = _profile(spark, registry[name].fn, sf_dir)
        except Exception as e:  # noqa: BLE001
            fails.append(f"{name}: execution error: {e}")
            continue
        bad = []
        if got["cols"] != want["cols"]:
            bad.append(f"cols {want['cols']} -> {got['cols']}")
        if got["rows"] != want["rows"] and name not in ROWCOUNT_EXEMPT:
            bad.append(f"rows {want['rows']} -> {got['rows']}")
        for c in want["cols"]:
            if c not in got["distinct"]:
                continue
            if want["distinct"].get(c, 0) > 1 and got["distinct"][c] <= 1:
                bad.append(f"column {c} collapsed to constant")
            if want["nonnull"].get(c, 0) > 0 and got["nonnull"][c] == 0:
                bad.append(f"column {c} collapsed to all-NULL")
        if bad:
            fails.append(f"{name}: " + "; ".join(bad))
            print(f"FAIL {name}: " + "; ".join(bad), flush=True)
        else:
            npass += 1
            print(f"pass {name} ({got['rows']} rows)", flush=True)
    spark.stop()
    print(f"\n{npass}/{len(names)} pass at {sf_label}")
    if fails:
        print(f"{len(fails)} FAILURES:")
        for f in fails:
            print(" ", f)
        return 1
    print("DEGENERACY GATE: ALL PASS")
    return 0


def main() -> int:
    args = sys.argv[1:]
    if "--pin-sf01" in args:
        args.remove("--pin-sf01")
        return pin_sf01([a for a in args if not a.startswith("-")])
    if "--pin" in args:
        args.remove("--pin")
        return pin([a for a in args if not a.startswith("-")] or None)
    sf_label = "sf0001"
    if "--sf" in args:
        i = args.index("--sf")
        sf_label = args[i + 1]
        del args[i : i + 2]
    only = [a for a in args if not a.startswith("-")]
    return check(sf_label, only)


if __name__ == "__main__":
    raise SystemExit(main())
