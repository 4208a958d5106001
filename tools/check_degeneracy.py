"""Registry-wide degeneracy / vacuity pins.

Motivation (round-11 postmortem, VERDICT r11 "What's wrong" #1): 258 of
the registry's queries execute the SAME builder-generated SQL text on
Spark and on the DuckDB oracle, so a bug in the shared text passes
parity on both sides. Round 11 hit this live twice — `text_sttr`'s
first draft made every segment one token long (integer `/` returns
DOUBLE on both engines → vacuously tiny output, parity green), caught
only by human row-count sanity. Parity cannot see vacuity; the pins
can.

A profile is computed in Python from a query's collected rows: exact
row count, column list, and per-column exact distinct and non-null
counts with Spark's grouping semantics (see `profile`).

`--pin` profiles every registered query at sf0.001 and sf0.01, writes
`tools/degeneracy_manifest.json`, then prints a REVIEW REPORT of
suspicious entries (0 rows anywhere; rows that do NOT grow
sf0.001→sf0.01 for non-scalar outputs; columns constant across >3
rows; all-NULL columns). The manifest is pinned deliberately:
regenerate only when queries are added or semantics change, and review
the diff — that review is the vacuity check automation can't make.

`tools/check_oracle.py` checks the pins: at a dir the manifest's
`sf_dirs` names, it profiles the rows it collected for parity and
fails every query `check_profile` reports a problem for. Any silent
collapse to 0 rows / 1 row / constant output — the exact text_sttr
failure shape — fails loudly even though parity stays green.

Usage:
  python tools/check_degeneracy.py --pin            # regenerate + review
  python tools/check_degeneracy.py --pin q1 q2      # incremental pin
  python tools/check_degeneracy.py --pin-sf01       # sf0.1 pins for the
                                                    # bench tier-2 heavies
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

MANIFEST = os.path.join(os.path.dirname(__file__), "degeneracy_manifest.json")
SF_DIRS = {
    "sf0001": "/root/testdata/sf0.001",
    "sf001": "/root/testdata/sf0.01",
}
# sf0.1 pins exist ONLY for the tier-2 heavy-shuffle queries (VERDICT
# r12 item 5): those are exactly the queries whose row counts could
# silently collapse at larger SFs without parity noticing (band-sweep
# census cap, DBSCAN grid, modularity rounds). Pinned via --pin-sf01;
# a sweep at sf0.1 checks only the queries that carry an sf01 entry.
# geo_knn_join and geo_knn_grid keep the pins they took as tier-2
# members before bench.TIER2 was re-picked from BREAKDOWN_r19.json.
SF01_DIR = "/root/testdata/sf0.1"


def _atom(v):
    """Spark's grouping key for an atomic value: every NaN is one value
    and -0.0 groups with 0.0 (Python's == already does the latter)."""
    if isinstance(v, float) and v != v:
        return "NaN"
    return bytes(v) if isinstance(v, bytearray) else v


def _json_key(v):
    """A key two values share exactly when `to_json` renders them the
    same: floats as written (-0.0 apart from 0.0, every NaN alike),
    timestamps to the millisecond, nested values in order."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(microsecond=v.microsecond // 1000 * 1000)
    if isinstance(v, (list, tuple)):
        return tuple(_json_key(x) for x in v)
    if isinstance(v, dict):
        return tuple((_json_key(k), _json_key(x)) for k, x in v.items())
    return bytes(v) if isinstance(v, bytearray) else v


def profile(rows, schema) -> dict:
    """Row count, columns and per-column distinct/non-null counts of
    collected `rows`, as `count_distinct(c)` and `count(c)` would give
    them on Spark. A non-atomic column is profiled as
    `to_json(struct(c))`, so NULL counts as one value and the non-null
    count equals the row count."""
    from pyspark.sql import types as T

    atomic = (T.StringType, T.BooleanType, T.DateType, T.TimestampType, T.NumericType,
              T.BinaryType)
    cols = [f.name for f in schema.fields]
    distinct, nonnull = {}, {}
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, atomic):
            keys = [_atom(r[i]) for r in rows if r[i] is not None]
        else:
            keys = [_json_key(r[i]) for r in rows]
        distinct[f.name] = len(set(keys))
        nonnull[f.name] = len(keys)
    return {"rows": len(rows), "cols": cols, "distinct": distinct, "nonnull": nonnull}


def _run_profile(spark, fn, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    return profile(df.collect(), df.schema)


def check_profile(want: dict | None, got: dict) -> list[str]:
    """What is wrong with profile `got` against pin `want` (None when
    the query has no pin at this SF); empty when it holds."""
    if not want or "error" in want:
        return ["no clean pin (run --pin and review the diff)"]
    bad = []
    if got["cols"] != want["cols"]:
        bad.append(f"cols {want['cols']} -> {got['cols']}")
    if got["rows"] != want["rows"]:
        bad.append(f"rows {want['rows']} -> {got['rows']}")
    for c in want["cols"]:
        if c not in got["distinct"]:
            continue
        if want["distinct"].get(c, 0) > 1 and got["distinct"][c] <= 1:
            bad.append(f"column {c} collapsed to constant")
        if want["nonnull"].get(c, 0) > 0 and got["nonnull"][c] == 0:
            bad.append(f"column {c} collapsed to all-NULL")
    return bad


def load_manifest() -> dict:
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
                prof[label] = _run_profile(spark, q.fn, sf_dir)
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
        old = load_manifest()
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
    manifest = load_manifest()
    spark = get_spark(app="degeneracy-pin-sf01")
    for name in names:
        prof = _run_profile(spark, registry[name].fn, SF01_DIR)
        manifest["queries"].setdefault(name, {})["sf01"] = prof
        print(f"pinned sf01 {name}: {prof['rows']} rows", flush=True)
    spark.stop()
    manifest.setdefault("sf_dirs", dict(SF_DIRS))["sf01"] = SF01_DIR
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    print(f"wrote {MANIFEST} (+sf01 for {len(names)} queries)")
    return 0


def main() -> int:
    args = sys.argv[1:]
    names = [a for a in args if not a.startswith("-")]
    if "--pin-sf01" in args:
        return pin_sf01(names)
    if "--pin" in args:
        return pin(names or None)
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
